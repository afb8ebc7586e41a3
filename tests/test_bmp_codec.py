"""BMP codec: exact round-trips across depths, RLE, row orders;
degrade contract — the same exactness discipline as the other codecs
(every layer is lossless, so encode→decode must be BIT-IDENTICAL)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geoparser_spark.operators.bmp_codec import (
    BMP_SIG,
    decode_bmp,
    encode_bmp,
)


def _gray(h, w, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w)).astype(np.uint8)


@pytest.mark.parametrize("top_down", [False, True])
@pytest.mark.parametrize("bpp", [24, 32])
def test_truecolor_roundtrip(bpp, top_down):
    rng = np.random.default_rng(11)
    # widths 5/6/7 exercise the 4-byte row padding
    for w in (5, 6, 7, 8):
        img = rng.integers(0, 256, size=(9, w, 3)).astype(np.uint8)
        blob = encode_bmp(img, bpp=bpp, top_down=top_down)
        assert blob[:2] == BMP_SIG
        assert np.array_equal(decode_bmp(blob), img)


def test_gray_palette_returns_2d():
    img = _gray(12, 13)
    out = decode_bmp(encode_bmp(img, bpp=8))
    assert out.ndim == 2
    assert np.array_equal(out, img)


def test_color_palette_expands_to_rgb():
    rng = np.random.default_rng(13)
    palette = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    palette[1] = (1, 2, 3)             # ensure not a grey ramp
    idx = rng.integers(0, 16, size=(7, 11)).astype(np.uint8)
    out = decode_bmp(encode_bmp(idx, bpp=4, palette=palette))
    assert out.shape == (7, 11, 3)
    assert np.array_equal(out, palette[idx])


def test_1bit_roundtrip():
    rng = np.random.default_rng(17)
    palette = np.array([[0, 0, 0], [255, 0, 0]], dtype=np.uint8)
    idx = rng.integers(0, 2, size=(9, 19)).astype(np.uint8)
    out = decode_bmp(encode_bmp(idx, bpp=1, palette=palette))
    assert np.array_equal(out, palette[idx])


def test_rle8_roundtrip_with_runs():
    rng = np.random.default_rng(19)
    # long runs + noise: exercises encoded runs across row boundaries
    img = np.repeat(rng.integers(0, 256, size=(11, 5)), 7, axis=1)
    img = img[:, :31].astype(np.uint8)
    out = decode_bmp(encode_bmp(img, bpp=8, rle=True))
    assert np.array_equal(out, img)


def test_rle8_delta_and_eob_zero_fill():
    """Hand-built RLE stream: delta skips and an early end-of-bitmap
    leave pixels undefined per spec — this decoder zero-fills them."""
    base = encode_bmp(np.zeros((4, 6), dtype=np.uint8), bpp=8, rle=True)
    (data_off,) = struct.unpack("<I", base[10:14])
    # row0 (bottom): 3x7, delta (+2,+1), row: 1x9, EOB
    stream = bytes([3, 7, 0, 2, 2, 1, 1, 9, 0, 1])
    blob = bytearray(base[:data_off]) + stream
    blob[2:6] = struct.pack("<I", len(blob))
    blob[34:38] = struct.pack("<I", len(stream))
    out = decode_bmp(bytes(blob))
    want = np.zeros((4, 6), dtype=np.uint8)
    want[3, 0:3] = 7                    # bottom row
    want[2, 5] = 9                      # after delta +2 cols +1 row
    assert np.array_equal(out, want)


def test_rle8_truncation_and_overflow_are_valueerror():
    """A stream ending without end-of-bitmap, or a run overflowing the
    row, is corruption — never a silently zero-filled 'success'."""
    img = np.repeat(np.arange(8, dtype=np.uint8)[:, None], 12, axis=1)
    blob = encode_bmp(img, bpp=8, rle=True)
    (data_off,) = struct.unpack("<I", blob[10:14])
    with pytest.raises(ValueError):
        decode_bmp(blob[: data_off + (len(blob) - data_off) // 2])
    base = encode_bmp(np.zeros((2, 4), dtype=np.uint8), bpp=8, rle=True)
    (off2,) = struct.unpack("<I", base[10:14])
    overflow = bytes([200, 5, 0, 1])   # 200-pixel run on a 4-wide row
    bad = bytearray(base[:off2]) + overflow
    bad[2:6] = struct.pack("<I", len(bad))
    bad[34:38] = struct.pack("<I", len(overflow))
    with pytest.raises(ValueError):
        decode_bmp(bytes(bad))


def test_grey_collapse_keyed_on_palette_not_pixels():
    """Two files with the same COLOR palette decode to the same rank
    even when one uses only grey entries."""
    palette = np.array([[10, 10, 10], [255, 0, 0]], dtype=np.uint8)
    all_grey = np.zeros((3, 3), dtype=np.uint8)
    one_red = all_grey.copy()
    one_red[0, 0] = 1
    a = decode_bmp(encode_bmp(all_grey, bpp=1, palette=palette))
    b = decode_bmp(encode_bmp(one_red, bpp=1, palette=palette))
    assert a.ndim == b.ndim == 3       # color palette: always RGB


def test_unsupported_layouts_degrade_not_crash():
    img = _gray(4, 4)
    blob = bytearray(encode_bmp(img, bpp=8))
    blob[30:34] = struct.pack("<I", 3)     # BITFIELDS on 8-bit: illegal
    with pytest.raises(ValueError, match="BITFIELDS requires"):
        decode_bmp(bytes(blob))
    blob2 = bytearray(encode_bmp(img, bpp=8))
    blob2[30:34] = struct.pack("<I", 4)    # BI_JPEG
    with pytest.raises(NotImplementedError, match="JPEG"):
        decode_bmp(bytes(blob2))
    blob3 = bytearray(encode_bmp(img, bpp=8))
    blob3[14:18] = struct.pack("<I", 16)   # OS/2 2.x short header
    with pytest.raises(NotImplementedError, match="OS/2"):
        decode_bmp(bytes(blob3))
    # 64-byte OS/2 2.x: layout-compatible for BI_RGB, but its
    # compression code 3 means Huffman-1D, not BITFIELDS
    rgb = np.dstack([_gray(4, 4)] * 3)
    blob4 = bytearray(encode_bmp(rgb, bpp=24))
    blob4[14:18] = struct.pack("<I", 64)
    assert np.array_equal(decode_bmp(bytes(blob4)), rgb)
    blob4[30:34] = struct.pack("<I", 3)
    with pytest.raises(NotImplementedError, match="Huffman"):
        decode_bmp(bytes(blob4))


def test_os2_core_header_roundtrips():
    rng = np.random.default_rng(79)
    img = rng.integers(0, 256, size=(13, 17, 3)).astype(np.uint8)
    got = decode_bmp(encode_bmp(img, 24, core_header=True))
    assert np.array_equal(got, img)
    g = rng.integers(0, 256, size=(9, 21)).astype(np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(g, 8, core_header=True)), g)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(7, 11)).astype(np.uint8)
    got = decode_bmp(encode_bmp(idx, 4, palette=pal, core_header=True))
    assert np.array_equal(got, pal[idx])
    # the 12-byte header + RGBTRIPLE palette make the stream smaller
    # than the INFO-header equivalent
    assert len(encode_bmp(idx, 4, palette=pal, core_header=True)) < \
        len(encode_bmp(idx, 4, palette=pal))
    # core header cannot carry RLE / top-down / masks / 16-bit
    with pytest.raises(ValueError, match="core header"):
        encode_bmp(g, 8, rle=True, core_header=True)
    with pytest.raises(ValueError, match="core header"):
        encode_bmp(img, 16, core_header=True)


def _scale_roundtrip(v: int, maxv: int) -> int:
    """Scalar replay of encode quantize + decode upscale for one
    channel value through a BITFIELDS mask of max value ``maxv``."""
    q = (v * maxv + 127) // 255
    return (q * 255 + maxv // 2) // maxv


def test_bmp16_rgb555_matches_scalar_replay():
    rng = np.random.default_rng(71)
    rgb = rng.integers(0, 256, size=(5, 7, 3)).astype(np.uint8)
    got = decode_bmp(encode_bmp(rgb, bpp=16))     # BI_RGB implicit 555
    assert got.shape == (5, 7, 3)
    exp = np.vectorize(lambda v: _scale_roundtrip(int(v), 31))(rgb)
    assert np.array_equal(got, exp)


def test_bmp16_bitfields_565_and_32bit_masks():
    rng = np.random.default_rng(73)
    rgb = rng.integers(0, 256, size=(4, 9, 3)).astype(np.uint8)
    blob = encode_bmp(rgb, bpp=16, masks=(0xF800, 0x07E0, 0x001F))
    assert struct.unpack("<I", blob[30:34])[0] == 3   # BI_BITFIELDS
    got = decode_bmp(blob)
    for c, maxv in ((0, 31), (1, 63), (2, 31)):
        exp = np.vectorize(lambda v, m=maxv: _scale_roundtrip(int(v), m))(
            rgb[:, :, c])
        assert np.array_equal(got[:, :, c], exp)
    # 32-bit BITFIELDS with 8-bit-wide masks decodes losslessly — same
    # pixels as the plain BGRX path
    plain = encode_bmp(rgb, bpp=32)
    wide = bytearray(plain)
    wide[30:34] = struct.pack("<I", 3)
    # masks live at absolute 54+, inside what was pixel data: rebuild
    # with data shifted — simplest is re-synthesizing the header
    body = plain[14 + 40:]
    hdr40 = bytearray(plain[:14 + 40])
    masks = struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
    hdr40[30:34] = struct.pack("<I", 3)
    hdr40[10:14] = struct.pack("<I", 14 + 40 + 12)
    got32 = decode_bmp(bytes(hdr40) + masks + body)
    assert np.array_equal(got32, rgb)
    # non-contiguous masks are corruption
    bad = encode_bmp(rgb, bpp=16, masks=(0xF800, 0x07E0, 0x001F))
    bad = bytearray(bad)
    bad[54:58] = struct.pack("<I", 0xF001)
    with pytest.raises(ValueError, match="non-contiguous"):
        decode_bmp(bytes(bad))
    # a 30-bit mask must not wrap the scale arithmetic: max raw value
    # decodes to exactly 255
    wide = bytearray(bytes(hdr40) + masks + body)
    wide[54:58] = struct.pack("<I", 0x3FFFFFFF)  # 30-bit red mask
    wide[58:62] = struct.pack("<I", 0x0000FF00)
    wide[62:66] = struct.pack("<I", 0x000000FF)
    px_off = struct.unpack("<I", wide[10:14])[0]
    wide[px_off:px_off + 4] = struct.pack("<I", 0x3FFFFFFF)
    out = decode_bmp(bytes(wide))
    assert out[-1, 0, 0] == 255          # bottom-up: first stored pixel
    # encoder masks= contract: 16-bit-only, exactly three masks
    with pytest.raises(ValueError, match="three RGB masks"):
        encode_bmp(rgb, bpp=32, masks=(0xF800, 0x07E0, 0x001F))
    with pytest.raises(ValueError, match="three RGB masks"):
        encode_bmp(rgb, bpp=16, masks=())


def test_malformed_streams_valueerror():
    with pytest.raises(ValueError):
        decode_bmp(b"")
    with pytest.raises(ValueError):
        decode_bmp(b"BM" + b"\x00" * 20)       # shorter than headers
    rgb = np.stack([_gray(16, 16)] * 3, axis=2)
    blob = encode_bmp(rgb, bpp=24)
    with pytest.raises(ValueError):
        decode_bmp(blob[: len(blob) // 2])     # truncated pixels


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=2048))
def test_decode_totality_on_garbage(raw):
    """Damaged input raises ValueError/NotImplementedError — never an
    unguarded numpy/struct/KeyError that would kill an Arrow task."""
    try:
        decode_bmp(b"BM" + raw)
    except (ValueError, NotImplementedError):
        pass
