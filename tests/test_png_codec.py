"""Pure-stdlib PNG codec (operators/png_codec): decode/encode
round-trips across color types and ALL five scanline filters, the
nearest-neighbor resample and the integer-exact pixel features."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geoparser_spark.operators.png_codec import (
    PNG_SIG,
    decode_png,
    encode_png,
    pixel_features,
    resize_nearest,
)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def test_roundtrip_gray_rgb_rgba():
    rng = np.random.default_rng(7)
    for shape in [(5, 7), (8, 3, 3), (4, 4, 4), (1, 1), (2, 1, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        back = decode_png(encode_png(img))
        ref = img[:, :, None] if img.ndim == 2 else img
        assert np.array_equal(back, ref), shape


def test_all_filter_types_decode():
    """Hand-filter a stream cycling filters 0..4 (None/Sub/Up/Average/
    Paeth per RFC 2083 §6) and check the unfilter recovers the image."""
    rng = np.random.default_rng(11)
    w, h, c = 6, 5, 3
    img = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    rows = []
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        line = img[y].reshape(-1).astype(np.int32)
        f = y % 5
        enc = np.zeros(w * c, dtype=np.int32)
        for x in range(w * c):
            a = line[x - c] if x >= c else 0
            b = prev[x]
            cc = prev[x - c] if x >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            enc[x] = (line[x] - pred) & 0xFF
        rows.append(bytes([f]) + bytes(enc.astype(np.uint8)))
        prev = line
    idat = zlib.compress(b"".join(rows))
    png = (PNG_SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + _chunk(b"IDAT", idat) + _chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)


def test_palette_expands_to_rgb():
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    w, h = 3, 2
    rows = b"\x00" + bytes([0, 1, 2]) + b"\x00" + bytes([2, 1, 0])
    png = (PNG_SIG
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
           + _chunk(b"PLTE", pal)
           + _chunk(b"IDAT", zlib.compress(rows))
           + _chunk(b"IEND", b""))
    img = decode_png(png)
    assert img.shape == (2, 3, 3)
    assert img[0, 0].tolist() == [255, 0, 0]
    assert img[1, 0].tolist() == [0, 0, 255]


def test_palette_index_out_of_range_is_valueerror():
    """ADVICE r4: indices past the PLTE length must raise the
    documented ValueError, not a numpy IndexError."""
    pal = bytes([255, 0, 0, 0, 255, 0])  # only 2 entries
    rows = b"\x00" + bytes([0, 1, 5])    # index 5 out of range
    png = (PNG_SIG
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 1, 8, 3, 0, 0, 0))
           + _chunk(b"PLTE", pal)
           + _chunk(b"IDAT", zlib.compress(rows))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="palette index"):
        decode_png(png)


def test_bad_signature_and_bad_depth_rejected():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    ihdr_3 = struct.pack(">IIBBBBB", 2, 2, 3, 0, 0, 0, 0)  # depth 3
    png = PNG_SIG + _chunk(b"IHDR", ihdr_3) + _chunk(
        b"IDAT", zlib.compress(b"\x00" * 10)) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bad bit depth"):
        decode_png(png)
    # sub-byte truecolor is not spec-legal
    ihdr_2rgb = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    png = PNG_SIG + _chunk(b"IHDR", ihdr_2rgb) + _chunk(
        b"IDAT", zlib.compress(b"\x00" * 10)) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="invalid for color type"):
        decode_png(png)


def _pack_subbyte(vals: np.ndarray, d: int) -> bytes:
    """Pack (H, W) values into PNG scanlines at depth d: MSB-first,
    each row padded to a whole byte, filter byte 0."""
    h, w = vals.shape
    rows = []
    for y in range(h):
        bits = []
        for x in range(w):
            bits.extend((int(vals[y, x]) >> (d - 1 - i)) & 1
                        for i in range(d))
        bits.extend([0] * (-len(bits) % 8))
        rows.append(b"\x00" + np.packbits(
            np.array(bits, dtype=np.uint8)).tobytes())
    return b"".join(rows)


def test_subbyte_grey_decodes_with_exact_rescale():
    """Depths 1/2/4 grey: values unpack MSB-first and rescale by the
    exact integer 255/(2^d-1)."""
    rng = np.random.default_rng(21)
    for d in (1, 2, 4):
        for w, h in [(1, 1), (3, 2), (8, 3), (9, 4), (17, 2)]:
            vals = rng.integers(0, 1 << d, size=(h, w), dtype=np.uint8)
            png = (PNG_SIG
                   + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, d,
                                                 0, 0, 0, 0))
                   + _chunk(b"IDAT", zlib.compress(_pack_subbyte(vals, d)))
                   + _chunk(b"IEND", b""))
            got = decode_png(png)
            assert got.shape == (h, w, 1), (d, w, h)
            assert np.array_equal(
                got[:, :, 0], vals * (255 // ((1 << d) - 1))), (d, w, h)


def test_subbyte_palette_decodes_to_rgb():
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]],
                   dtype=np.uint8)
    vals = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 3]], dtype=np.uint8)
    png = (PNG_SIG
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 2, 2, 3, 0, 0, 0))
           + _chunk(b"PLTE", pal.tobytes())
           + _chunk(b"IDAT", zlib.compress(_pack_subbyte(vals, 2)))
           + _chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), pal[vals])


def _encode_png16(img16: np.ndarray, interlace: bool = False) -> bytes:
    """Test-side 16-bit encoder: big-endian samples, filter 0."""
    h, w, c = img16.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    be = img16.astype(">u2")
    if not interlace:
        rows = b"".join(b"\x00" + be[y].tobytes() for y in range(h))
    else:
        from geoparser_spark.operators.png_codec import _ADAM7
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = be[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts.extend(b"\x00" + sub[y].tobytes()
                         for y in range(sub.shape[0]))
        rows = b"".join(parts)
    return (PNG_SIG
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16,
                                          color_type, 0, 0,
                                          1 if interlace else 0))
            + _chunk(b"IDAT", zlib.compress(rows))
            + _chunk(b"IEND", b""))


def test_16bit_decodes_msb():
    """16-bit samples unfilter at bpp = ch*2 and rescale to 8 bits by
    keeping the MSB (the spec's own depth rescale)."""
    rng = np.random.default_rng(13)
    for shape in [(3, 5, 1), (4, 4, 3), (2, 7, 4), (9, 10, 2)]:
        img16 = rng.integers(0, 65536, size=shape, dtype=np.uint16)
        for interlace in (False, True):
            got = decode_png(_encode_png16(img16, interlace=interlace))
            assert np.array_equal(got, (img16 >> 8).astype(np.uint8)), \
                (shape, interlace)


def test_16bit_palette_is_valueerror():
    png = (PNG_SIG
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 3, 0, 0, 0))
           + _chunk(b"PLTE", bytes([1, 2, 3]))
           + _chunk(b"IDAT", zlib.compress(b"\x00" * 5))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="spec-legal"):
        decode_png(png)


def test_adam7_decodes_same_pixels_as_sequential_twin():
    """VERDICT r5 #6: an interlaced fixture must decode to the SAME
    pixels as its non-interlaced twin — same image, two encodings.
    Shapes straddle the 8x8 Adam7 tile (sub-tile, exact, ragged) and
    every channel count; sub-tile shapes exercise skipped passes."""
    rng = np.random.default_rng(42)
    for shape in [(3, 5), (8, 8, 3), (9, 13, 4), (1, 1), (2, 2),
                  (16, 7, 2), (5, 17, 3), (1, 9), (11, 1)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        seq = decode_png(encode_png(img, interlace=False))
        ada = decode_png(encode_png(img, interlace=True))
        assert np.array_equal(seq, ada), shape
        ref = img[:, :, None] if img.ndim == 2 else img
        assert np.array_equal(ada, ref), shape


def test_adam7_truncated_idat_is_valueerror():
    full = encode_png(np.arange(120, dtype=np.uint8).reshape(10, 12),
                      interlace=True)
    # rebuild with an IDAT missing its final pass bytes: underflow must
    # be a loud ValueError, not silently-zero pixels
    short = zlib.compress(zlib.decompress(
        _idat_payload(full))[:-5])
    png = (PNG_SIG + _chunk(b"IHDR", struct.pack(
        ">IIBBBBB", 12, 10, 8, 0, 0, 0, 1))
        + _chunk(b"IDAT", short) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IDAT underflow"):
        decode_png(png)


def _idat_payload(png: bytes) -> bytes:
    i = len(PNG_SIG)
    while i + 8 <= len(png):
        (length,), ctype = struct.unpack(">I", png[i:i + 4]), png[i + 4:i + 8]
        if ctype == b"IDAT":
            return png[i + 8:i + 8 + length]
        i += 12 + length
    raise AssertionError("no IDAT")


def test_resize_nearest_exact_indices():
    img = np.arange(24, dtype=np.uint8).reshape(4, 6, 1)
    out = resize_nearest(img, 3, 2)
    # output (y, x) samples (y*4//2, x*6//3) = (2y, 2x)
    assert out[:, :, 0].tolist() == [[0, 2, 4], [12, 14, 16]]


def test_pixel_features_integer_exact():
    img = np.full((2, 3), 100, dtype=np.uint8)
    f = pixel_features(img, 16)
    assert f[0] == 3 / 4096.0 and f[1] == 2 / 4096.0
    assert f[2] == pytest.approx(100 / 255.0)
    assert f[3] == 0.0  # constant image: zero variance
    hist = f[8:]
    assert sum(hist) == pytest.approx(1.0)
    assert hist[(100 * 8) // 256] == 1.0


def test_grey_alpha_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(4, 5, 2), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_bomb_dimensions_rejected():
    ihdr = struct.pack(">IIBBBBB", 2**31 - 1, 2**31 - 1, 8, 6, 0, 0, 0)
    png = (PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"\x00" * 64))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="bomb"):
        decode_png(png)


def test_zero_width_png_features_no_crash():
    ihdr = struct.pack(">IIBBBBB", 0, 3, 8, 0, 0, 0, 0)
    png = (PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
           + _chunk(b"IEND", b""))
    img = decode_png(png)
    assert img.shape == (3, 0, 1)
    f = pixel_features(img, 16)
    assert len(f) == 16 and f[1] == 3 / 4096.0


@given(st.integers(1, 20), st.integers(1, 20), st.integers(1, 4),
       st.booleans(), st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_roundtrip_property_including_adam7(h, w, c, interlace, seed):
    """Hypothesis round-trip over both encodings (VERDICT r5 #6):
    arbitrary shape/channels/seed, sequential and Adam7."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    assert np.array_equal(
        decode_png(encode_png(img, interlace=interlace)), img)
