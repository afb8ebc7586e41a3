"""JPEG codec: coefficient-exact decode, integer-IDCT determinism,
round-trips, sampling geometry, restart markers, degrade contract.

The entropy layer is lossless, so encoding a QUANTIZED COEFFICIENT
pattern and decoding must land exactly IDCT(pattern) — any defect in marker
parsing, Huffman tables, bit unstuffing, zigzag, dequant or the
fixed-point IDCT breaks bit equality.
"""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geoparser_spark.operators.jpeg_codec import (
    FLAT_Q,
    _A,
    _IDCT_SCALE,
    decode_jpeg,
    encode_jpeg_coeffs,
    encode_jpeg_gray,
    idct2d_int,
    ycbcr_to_rgb_int,
)


def _assemble(grid: np.ndarray) -> np.ndarray:
    by, bx = grid.shape[:2]
    return (idct2d_int(grid.reshape(-1, 8, 8))
            .reshape(by, bx, 8, 8).transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8))


def test_idct_basis_matches_pure_python_mirror():
    """The 64 basis integers are the codec's only transcendental input;
    recompute them with math.cos and pin equality so the table can
    never drift."""
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            want = round(_IDCT_SCALE * cu / 2.0
                         * math.cos((2 * x + 1) * u * math.pi / 16.0))
            assert int(_A[u, x]) == want


def test_idct_dc_only_block_is_flat():
    # DC-only: every sample = round(dc * A[0,x]^2 * 64 / 2^26) + 128;
    # with dc = 8k the orthonormal DC gain (1/8 per axis... combined
    # 1/8) makes the block exactly flat
    blk = np.zeros((1, 8, 8), dtype=np.int64)
    blk[0, 0, 0] = 80
    out = idct2d_int(blk)
    assert (out == out[0, 0, 0]).all()
    assert out[0, 0, 0] == 128 + 10


def test_gray_coefficient_exact_decode():
    rng = np.random.RandomState(11)
    for _ in range(6):
        by, bx = rng.randint(1, 4), rng.randint(1, 5)
        grid = rng.randint(-64, 64, size=(by, bx, 8, 8)).astype(np.int64)
        h = by * 8 - rng.randint(0, 7)
        w = bx * 8 - rng.randint(0, 7)
        img = decode_jpeg(encode_jpeg_coeffs([grid], h, w))
        assert img.shape == (h, w)
        assert np.array_equal(img, _assemble(grid)[:h, :w])


def test_gray_pixel_roundtrip_flat_q():
    img0 = ((np.arange(24)[:, None] * 3 + np.arange(40)[None, :] * 7)
            % 256).astype(np.uint8)
    img1 = decode_jpeg(encode_jpeg_gray(img0))
    assert img1.shape == img0.shape
    assert np.abs(img0.astype(int) - img1.astype(int)).max() <= 2


def test_gray_pixel_roundtrip_lossy_q_bounded():
    q = np.full((8, 8), 16, dtype=np.int64)
    q[0, 0] = 8
    rng = np.random.RandomState(3)
    img0 = rng.randint(0, 256, size=(32, 32)).astype(np.uint8)
    img1 = decode_jpeg(encode_jpeg_gray(img0, q=q))
    # heavy quantization: content is lossy but bounded by q's energy
    assert np.abs(img0.astype(int) - img1.astype(int)).max() <= 96
    assert np.abs(img0.astype(float) - img1.astype(float)).mean() <= 24


@pytest.mark.parametrize("samplings", [
    [(1, 1), (1, 1), (1, 1)],   # 4:4:4
    [(2, 1), (1, 1), (1, 1)],   # 4:2:2
    [(2, 2), (1, 1), (1, 1)],   # 4:2:0
])
def test_color_coefficient_exact(samplings):
    rng = np.random.RandomState(5)
    mcus_y, mcus_x = 2, 2
    hy, vy = samplings[0]
    gy = rng.randint(-30, 30,
                     size=(mcus_y * vy, mcus_x * hy, 8, 8)).astype(np.int64)
    gcb = rng.randint(-20, 20, size=(mcus_y, mcus_x, 8, 8)).astype(np.int64)
    gcr = rng.randint(-20, 20, size=(mcus_y, mcus_x, 8, 8)).astype(np.int64)
    h, w = mcus_y * 8 * vy - 3, mcus_x * 8 * hy - 5
    img = decode_jpeg(encode_jpeg_coeffs([gy, gcb, gcr], h, w,
                                         samplings=samplings))
    assert img.shape == (h, w, 3)
    py = _assemble(gy)
    pcb = np.repeat(np.repeat(_assemble(gcb), vy, 0), hy, 1)
    pcr = np.repeat(np.repeat(_assemble(gcr), vy, 0), hy, 1)
    exp = ycbcr_to_rgb_int(py[:h, :w], pcb[:h, :w], pcr[:h, :w])
    assert np.array_equal(img, exp)


def test_restart_interval_resets_predictors():
    rng = np.random.RandomState(9)
    grid = rng.randint(-25, 25, size=(2, 5, 8, 8)).astype(np.int64)
    blob = encode_jpeg_coeffs([grid], 16, 40, restart_interval=3)
    assert b"\xff\xd0" in blob or b"\xff\xd1" in blob
    assert np.array_equal(decode_jpeg(blob), _assemble(grid))


def test_zrl_long_zero_runs():
    grid = np.zeros((1, 1, 8, 8), dtype=np.int64)
    grid[0, 0, 0, 0] = 5
    grid[0, 0, 7, 7] = -3  # zigzag index 63: needs ZRL x3 + code
    img = decode_jpeg(encode_jpeg_coeffs([grid], 8, 8))
    assert np.array_equal(img, _assemble(grid))


def test_arithmetic_and_12bit_rejected():
    arith = (bytes([0xFF, 0xD8, 0xFF, 0xCA]) + struct.pack(">H", 8)
             + b"\x08\x00\x08\x00\x08\x01")
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(arith)
    deep = (bytes([0xFF, 0xD8, 0xFF, 0xC0]) + struct.pack(">H", 8)
            + b"\x0c\x00\x08\x00\x08\x01")
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(deep)


def test_malformed_streams_valueerror():
    with pytest.raises(ValueError):
        decode_jpeg(b"")
    with pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")          # EOI before SOS
    blob = bytearray(encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8)))
    with pytest.raises(ValueError):
        decode_jpeg(bytes(blob[: len(blob) // 2]))  # truncated scan


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=2048))
def test_decode_totality_on_garbage(raw):
    """Damaged input raises ValueError/NotImplementedError — never an
    unguarded numpy/struct/KeyError that would kill an Arrow task."""
    try:
        decode_jpeg(b"\xff\xd8" + raw)
    except (ValueError, NotImplementedError):
        pass


def _rand_grids(rng, nc, mcus_x, mcus_y, samplings, lo=-40, hi=40):
    grids = []
    for ci in range(nc):
        hh, vv = samplings[ci]
        g = rng.integers(lo, hi, size=(mcus_y * vv, mcus_x * hh, 8, 8))
        g = g.astype(np.int64)
        # tame some high-frequency cells to zero so EOB runs occur
        g[:, :, 4:, 4:] = 0
        grids.append(g)
    return grids


def test_progressive_gray_matches_baseline():
    """Default script (DC SA + spectral selection + AC refinement):
    progressive pixels must be bit-identical to the baseline encoding
    of the same quantized coefficients."""
    from geoparser_spark.operators.jpeg_codec import (
        encode_jpeg_coeffs_progressive,
    )

    rng = np.random.default_rng(31)
    for (h, w) in [(8, 8), (16, 24), (13, 21), (8, 40)]:
        grids = _rand_grids(rng, 1, -(-w // 8), -(-h // 8), [(1, 1)])
        base = decode_jpeg(encode_jpeg_coeffs(grids, h, w))
        prog = decode_jpeg(encode_jpeg_coeffs_progressive(grids, h, w))
        assert np.array_equal(base, prog), (h, w)


def test_progressive_color_420_matches_baseline():
    from geoparser_spark.operators.jpeg_codec import (
        encode_jpeg_coeffs_progressive,
    )

    rng = np.random.default_rng(37)
    samp = [(2, 2), (1, 1), (1, 1)]
    for (h, w) in [(16, 16), (24, 40), (13, 21)]:
        mx, my = -(-w // 16), -(-h // 16)
        grids = _rand_grids(rng, 3, mx, my, samp)
        base = decode_jpeg(encode_jpeg_coeffs(grids, h, w, samplings=samp))
        prog = decode_jpeg(
            encode_jpeg_coeffs_progressive(grids, h, w, samplings=samp))
        assert np.array_equal(base, prog), (h, w)


def test_progressive_noninterleaved_block_raster():
    """Luma with h-factor 2 in a 24-wide image: the MCU-padded grid has
    4 block columns but a non-interleaved AC scan covers only
    ceil(24/8)=3 — exercises the A.2.2 traversal difference."""
    from geoparser_spark.operators.jpeg_codec import (
        encode_jpeg_coeffs_progressive,
    )

    rng = np.random.default_rng(41)
    samp = [(2, 2), (1, 1), (1, 1)]
    h, w = 16, 24
    grids = _rand_grids(rng, 3, -(-w // 16), -(-h // 16), samp)
    # MCU-padding block column of luma: AC progressive never writes it;
    # zero it so baseline and progressive agree coefficient-for-
    # coefficient (its pixels are cropped away either way)
    grids[0][:, 3:, :, :] = 0
    grids[0][:, 3:, 0, 0] = rng.integers(-20, 20)  # DC still covered
    base = decode_jpeg(encode_jpeg_coeffs(grids, h, w, samplings=samp))
    prog = decode_jpeg(
        encode_jpeg_coeffs_progressive(grids, h, w, samplings=samp))
    assert np.array_equal(base, prog)


def test_progressive_spectral_only_and_custom_scripts():
    from geoparser_spark.operators.jpeg_codec import (
        encode_jpeg_coeffs_progressive,
    )

    rng = np.random.default_rng(43)
    h, w = 16, 16
    grids = _rand_grids(rng, 1, 2, 2, [(1, 1)])
    base = decode_jpeg(encode_jpeg_coeffs(grids, h, w))
    scripts = [
        # spectral selection only, no successive approximation
        [([0], 0, 0, 0, 0), ([0], 1, 63, 0, 0)],
        # three AC bands
        [([0], 0, 0, 0, 0), ([0], 1, 2, 0, 0), ([0], 3, 20, 0, 0),
         ([0], 21, 63, 0, 0)],
        # deep successive approximation on AC (3 refinement passes)
        [([0], 0, 0, 0, 2), ([0], 0, 0, 2, 1), ([0], 0, 0, 1, 0),
         ([0], 1, 63, 0, 3), ([0], 1, 63, 3, 2), ([0], 1, 63, 2, 1),
         ([0], 1, 63, 1, 0)],
    ]
    for sc in scripts:
        prog = decode_jpeg(
            encode_jpeg_coeffs_progressive(grids, h, w, scans=sc))
        assert np.array_equal(base, prog), sc


def test_progressive_sparse_blocks_exercise_eob_runs():
    """Mostly-zero grids drive long EOB runs (EOBn symbols with
    extension bits) through both first and refinement AC passes."""
    from geoparser_spark.operators.jpeg_codec import (
        encode_jpeg_coeffs_progressive,
    )

    rng = np.random.default_rng(47)
    h, w = 64, 64
    grids = [np.zeros((8, 8, 8, 8), dtype=np.int64)]
    grids[0][:, :, 0, 0] = rng.integers(-30, 30, size=(8, 8))
    grids[0][2, 3, 5, 6] = 7
    grids[0][7, 7, 1, 1] = -3
    grids[0][0, 0, 7, 7] = 1   # newly significant only in last pass
    base = decode_jpeg(encode_jpeg_coeffs(grids, h, w))
    prog = decode_jpeg(encode_jpeg_coeffs_progressive(grids, h, w))
    assert np.array_equal(base, prog)


def test_progressive_truncated_is_valueerror():
    from geoparser_spark.operators.jpeg_codec import (
        encode_jpeg_coeffs_progressive,
    )

    rng = np.random.default_rng(59)
    grids = _rand_grids(rng, 1, 2, 2, [(1, 1)])
    full = encode_jpeg_coeffs_progressive(grids, 16, 16)
    with pytest.raises(ValueError):
        decode_jpeg(full[:len(full) // 2])
    # progressive stream with the EOI sliced off
    with pytest.raises(ValueError):
        decode_jpeg(full[:-2])


def test_dc_category_above_11_is_valueerror_not_overflow():
    """A malicious DHT can map a code to any HUFFVAL byte (e.g. 100);
    reader.receive(100) then builds a >64-bit Python int and storing it
    in the int64 grid raised OverflowError — escaping decode_jpeg's
    ValueError degrade contract.  F.1.2.1.1 caps
    8-bit DC categories at 11; reject beyond it at both decode sites."""
    from geoparser_spark.operators.jpeg_codec import (
        _dht_seg, _dqt_seg, _seg, SOF0, SOF2, SOS,
    )

    dht_dc = _dht_seg(0, 0, [1] + [0] * 15, [100])   # 1-bit code -> 100
    dht_ac = _dht_seg(1, 0, [1] + [0] * 15, [0])     # 1-bit code -> EOB
    sof_body = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    sos_body = bytes([1, 1, 0x00, 0, 0, 0])
    entropy = b"\x55" * 16                           # plenty of bits
    for sof_marker in (SOF0, SOF2):
        stream = (b"\xff\xd8" + _dqt_seg(0, FLAT_Q) + dht_dc + dht_ac
                  + _seg(sof_marker, sof_body) + _seg(SOS, sos_body)
                  + entropy + b"\xff\xd9")
        with pytest.raises(ValueError, match="DC magnitude category"):
            decode_jpeg(stream)


def test_sos_zero_components_is_valueerror():
    """Ns=0 in a progressive SOS used to hit scan[0] on an empty list
    (IndexError); B.2.3 requires 1 <= Ns <= 4."""
    from geoparser_spark.operators.jpeg_codec import (
        _dqt_seg, _seg, SOF2, SOS,
    )

    sof_body = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    stream = (b"\xff\xd8" + _dqt_seg(0, FLAT_Q)
              + _seg(SOF2, sof_body)
              + _seg(SOS, bytes([0, 0, 0, 0])) + b"\xff\xd9")
    with pytest.raises(ValueError, match="SOS component count"):
        decode_jpeg(stream)


def test_second_sof_is_valueerror():
    """A second SOF after progressive grids were allocated used to
    index stale grids with new geometry (IndexError); non-hierarchical
    JPEG permits exactly one frame header per image."""
    from geoparser_spark.operators.jpeg_codec import (
        encode_jpeg_coeffs_progressive,
    )

    rng = np.random.default_rng(61)
    grids = _rand_grids(rng, 1, 1, 1, [(1, 1)])
    full = encode_jpeg_coeffs_progressive(grids, 8, 8)
    i = full.index(b"\xff\xc2")
    seglen = struct.unpack(">H", full[i + 2:i + 4])[0]
    sof_seg = full[i:i + 2 + seglen]
    bigger = bytearray(sof_seg)
    bigger[5:9] = struct.pack(">HH", 64, 64)   # 64x64 second frame
    assert full[-2:] == b"\xff\xd9"
    with pytest.raises(ValueError, match="multiple SOF"):
        decode_jpeg(full[:-2] + bytes(bigger) + full[-2:])


def test_progressive_encoder_rejects_bad_scan_scripts():
    """The fixture encoder fails at ENCODE time on scripts its own
    decoder would reject (or silently miscode), instead of emitting
    the stream and confusing the failure downstream."""
    from geoparser_spark.operators.jpeg_codec import (
        encode_jpeg_coeffs_progressive,
    )

    grids = [np.zeros((1, 1, 8, 8), dtype=np.int64)]
    bad_scripts = [
        [([0], 10, 5, 0, 0)],          # Ss > Se
        [([0], 0, 63, 0, 0)],          # DC+AC mixed band
        [([0], 1, 64, 0, 0)],          # Se past block end
        [([0], 0, 0, 0, 0), ([0], 1, 63, 3, 1)],   # Ah != Al+1
        [([0, 1], 1, 63, 0, 0)],       # multi-component AC
        [([], 0, 0, 0, 0)],            # empty component list
        [([2], 0, 0, 0, 0)],           # component out of range
        [([-1], 0, 0, 0, 0)],          # negative component index
        [([0, 0], 0, 0, 0, 0)],        # duplicate components (B.2.3)
        [([0], 0, 0, 0, 0), ([0], 1, 63, 0, 14)],  # Al past decoder cap
    ]
    for sc in bad_scripts:
        with pytest.raises(ValueError):
            encode_jpeg_coeffs_progressive(grids, 8, 8, scans=sc)
