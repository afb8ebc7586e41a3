"""TIFF codec: exact round-trips across compressions, depths,
photometrics, strip layouts and byte orders; degrade contract.

The entropy/packing layers are all lossless, so every encode→decode
must be BIT-IDENTICAL to the input pixels — the same exactness
discipline as test_jpeg_codec.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geoparser_spark.operators.tiff_codec import (
    TIFF_SIGS,
    _lzw_decode,
    _lzw_encode,
    _packbits_decode,
    _packbits_encode,
    decode_tiff,
    encode_tiff,
)


def _gray(h, w, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w)).astype(np.uint8)


@pytest.mark.parametrize("compression", [1, 5, 32773, 8])
@pytest.mark.parametrize("big_endian", [False, True])
def test_gray8_roundtrip_all_compressions(compression, big_endian):
    img = _gray(33, 41)
    blob = encode_tiff(img, compression=compression, big_endian=big_endian)
    assert blob[:4] in TIFF_SIGS
    assert np.array_equal(decode_tiff(blob), img)


@pytest.mark.parametrize("compression", [1, 5, 32773, 8])
def test_rgb_roundtrip(compression):
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(17, 23, 3)).astype(np.uint8)
    out = decode_tiff(encode_tiff(img, compression=compression))
    assert out.shape == (17, 23, 3)
    assert np.array_equal(out, img)


def test_rgba_keeps_alpha_channel():
    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(9, 9, 4)).astype(np.uint8)
    out = decode_tiff(encode_tiff(img))
    assert out.shape == (9, 9, 4)
    assert np.array_equal(out, img)


def test_multi_strip_equals_single_strip():
    img = _gray(50, 30, seed=17)
    one = decode_tiff(encode_tiff(img, compression=5))
    many = decode_tiff(encode_tiff(img, compression=5, rows_per_strip=7))
    assert np.array_equal(one, many)
    assert np.array_equal(one, img)


def test_predictor2_roundtrip_lzw_and_deflate():
    # smooth gradients are the predictor's target content
    img = ((np.arange(24)[:, None] * 3 + np.arange(31)[None, :] * 5)
           % 256).astype(np.uint8)
    for comp in (5, 8):
        blob = encode_tiff(img, compression=comp, predictor=2)
        assert np.array_equal(decode_tiff(blob), img)
    rgb = np.stack([img, img[::-1], (img + 64) % 256], axis=2)
    blob = encode_tiff(rgb.astype(np.uint8), compression=5, predictor=2)
    assert np.array_equal(decode_tiff(blob), rgb)


@pytest.mark.parametrize("bits", [1, 2, 4])
def test_subbyte_gray_exact_integer_rescale(bits):
    rng = np.random.default_rng(19)
    maxv = (1 << bits) - 1
    vals = rng.integers(0, maxv + 1, size=(13, 29)).astype(np.uint8)
    out = decode_tiff(encode_tiff(vals, bits=bits))
    assert np.array_equal(
        out, (vals.astype(np.uint32) * 255 // maxv).astype(np.uint8))


def test_white_is_zero_inverts_exactly():
    img = _gray(8, 8, seed=23)
    out = decode_tiff(encode_tiff(img, photometric=0))
    assert np.array_equal(out, 255 - img)
    bits2 = np.array([[0, 1, 2, 3]], dtype=np.uint8)
    out2 = decode_tiff(encode_tiff(bits2, bits=2, photometric=0))
    assert np.array_equal(
        out2, ((3 - bits2).astype(np.uint32) * 255 // 3).astype(np.uint8))


def test_palette_colormap_high_byte():
    rng = np.random.default_rng(29)
    palette = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(10, 12)).astype(np.uint8)
    out = decode_tiff(encode_tiff(idx, bits=4, palette=palette))
    assert out.shape == (10, 12, 3)
    assert np.array_equal(out, palette[idx])


def test_gray16_keeps_msb_both_endiannesses():
    img8 = _gray(6, 7, seed=31)
    samples16 = img8.astype(np.uint16) << 8 | 0x5A  # low byte is noise
    for big_endian in (False, True):
        blob = encode_tiff(samples16, bits=16, big_endian=big_endian)
        assert np.array_equal(decode_tiff(blob), img8)


def test_lzw_width_boundaries_roundtrip():
    """Enough distinct material to push the code width through 9→10→11
    bits exercises the EARLY-change rule on both sides."""
    rng = np.random.default_rng(37)
    data = rng.integers(0, 256, size=40_000).astype(np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(data), len(data)) == data


def test_lzw_table_full_clears_and_continues():
    rng = np.random.default_rng(41)
    # >4096 distinct phrases forces a mid-stream Clear
    data = rng.integers(0, 256, size=200_000).astype(np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(data), len(data)) == data


@given(st.binary(max_size=4096))
@settings(max_examples=40, deadline=None)
def test_lzw_and_packbits_roundtrip_property(data):
    assert _lzw_decode(_lzw_encode(data), len(data)) == data
    assert _packbits_decode(_packbits_encode(data), len(data)) == data


def test_lzw_eoi_at_width_boundary_exact():
    """The decoder adds a table entry for the FINAL data code before it
    reads EOI, so when that add lands exactly on the early-change
    boundary EOI must be written at the WIDER width (libtiff's
    LZWPostEncode bump).  High-entropy streams whose phrase count hits
    the 9→10 (k=254) and 10→11 (k=766) boundaries caught a real 2-byte
    overrun in the tiled-TIFF fixtures — sweep every length around the
    boundaries and require the decode to land on EXACTLY len(data)."""
    rng = np.random.default_rng(101)
    for lo, hi in ((246, 266), (756, 780), (1780, 1804)):
        for n in range(lo, hi):
            data = rng.integers(0, 256, size=n).astype(np.uint8).tobytes()
            assert _lzw_decode(_lzw_encode(data), n) == data


def test_unsupported_layouts_degrade_not_crash():
    img = _gray(8, 8)
    blob = bytearray(encode_tiff(img))
    # patch Compression (tag 259) to JPEG2000-in-TIFF (34712): degrade
    e = "<"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob[off:off + 2]))[0]
        if tag == 259:
            blob[off + 8:off + 10] = struct.pack(e + "H", 34712)
    with pytest.raises(NotImplementedError, match="compression 34712"):
        decode_tiff(bytes(blob))
    # CCITT (now real) on 8-bit samples is a malformed combination
    blob4 = bytearray(encode_tiff(img))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob4[off:off + 2]))[0]
        if tag == 259:
            blob4[off + 8:off + 10] = struct.pack(e + "H", 4)
    with pytest.raises(ValueError, match="1-bit"):
        decode_tiff(bytes(blob4))
    # a TileWidth tag without TileOffsets/ByteCounts is a malformed
    # tiled file, not a degrade case
    blob2 = bytearray(encode_tiff(img))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob2[off:off + 2]))[0]
        if tag == 278:
            blob2[off:off + 2] = struct.pack(e + "H", 322)
    with pytest.raises(ValueError, match="missing required"):
        decode_tiff(bytes(blob2))


def test_tiff_tiled_roundtrips_and_edge_crop():
    rng = np.random.default_rng(79)
    # dimensions NOT multiples of the tile size: edge tiles pad + crop
    # across a multi-tile grid (2x3 tiles of 16x16)
    gray = rng.integers(0, 256, size=(21, 37)).astype(np.uint8)
    for comp in (1, 5, 32773, 8):
        got = decode_tiff(encode_tiff(gray, compression=comp,
                                      tile=(16, 16)))
        assert np.array_equal(got, gray)
    rgb = rng.integers(0, 256, size=(18, 33, 3)).astype(np.uint8)
    # chunky tiles with the predictor restarting at each tile edge
    got = decode_tiff(encode_tiff(rgb, compression=5, predictor=2,
                                  tile=(16, 16)))
    assert np.array_equal(got, rgb)
    # planar tiles
    got = decode_tiff(encode_tiff(rgb, compression=5, predictor=2,
                                  tile=(16, 16), planar=True))
    assert np.array_equal(got, rgb)
    # tiled palette
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(17, 20)).astype(np.uint8)
    got = decode_tiff(encode_tiff(idx, palette=pal, tile=(16, 16)))
    assert np.array_equal(got, pal[idx])
    # TIFF 6.0 p.67: tile dims must be multiples of 16 — the encoder
    # refuses to emit nonconforming fixtures
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_tiff(gray, tile=(8, 8))
    # ... but the decoder stays lenient: a hand-built 8x8-tile file
    # (via the internal writer) still decodes
    from geoparser_spark.operators.tiff_codec import _emit_tiff
    small = gray[:5, :6]
    pad = np.zeros((8, 8), dtype=np.uint8)
    pad[:5, :6] = small
    blob = _emit_tiff([pad.tobytes()], "<", 6, 5, 1, 8, 1, 1, 1,
                      None, None, 5, (8, 8), False)
    assert np.array_equal(decode_tiff(blob), small)


def test_tiff_planar_strips_roundtrip():
    rng = np.random.default_rng(83)
    rgb = rng.integers(0, 256, size=(11, 6, 3)).astype(np.uint8)
    for comp, pred in ((1, 1), (5, 2), (32773, 1), (8, 2)):
        blob = encode_tiff(rgb, compression=comp, predictor=pred,
                           rows_per_strip=4, planar=True)
        got = decode_tiff(blob)
        assert np.array_equal(got, rgb)


def test_tiff_tiled_subbyte_and_16bit_roundtrip():
    rng = np.random.default_rng(83)
    for bits in (1, 2, 4, 16):
        hi = 1 << bits
        for comp in (1, 5, 8, 32773):
            for (h, w) in [(5, 7), (16, 16), (20, 37)]:
                img = rng.integers(0, min(hi, 65536), size=(h, w))
                img = img.astype(np.uint16 if bits == 16 else np.uint8)
                for be in (False, True):
                    blob = encode_tiff(img, compression=comp, bits=bits,
                                       tile=(16, 16), big_endian=be)
                    got = decode_tiff(blob)
                    if bits == 16:
                        exp = (img >> 8).astype(np.uint8)
                    else:
                        exp = (img.astype(np.uint32) * 255
                               // (hi - 1)).astype(np.uint8)
                    assert np.array_equal(got, exp), (bits, comp, h, w, be)


def test_tiff_tiled_palette_and_whitezero_depths():
    rng = np.random.default_rng(87)
    pal = rng.integers(0, 256, size=(16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, size=(18, 21)).astype(np.uint8)
    got = decode_tiff(encode_tiff(idx, compression=5, bits=4,
                                  tile=(16, 16), palette=pal))
    assert np.array_equal(got, pal[idx])
    img = rng.integers(0, 4, size=(9, 9)).astype(np.uint8)
    got = decode_tiff(encode_tiff(img, bits=2, tile=(16, 16),
                                  photometric=0))
    exp = 255 - (img.astype(np.uint32) * 255 // 3)
    assert np.array_equal(got, exp.astype(np.uint8))
    # non-8-bit tiled fixtures reject multi-sample / predictor-2 input
    rgb = rng.integers(0, 256, size=(8, 8, 3)).astype(np.uint8)
    with pytest.raises(ValueError, match="single-sample"):
        encode_tiff(rgb, bits=4, tile=(16, 16))
    with pytest.raises(ValueError, match="single-sample"):
        encode_tiff(img, bits=2, tile=(16, 16), predictor=2)


def test_tiff_tiled_validation():
    rng = np.random.default_rng(89)
    gray = rng.integers(0, 256, size=(9, 9)).astype(np.uint8)
    blob = bytearray(encode_tiff(gray, tile=(16, 16)))
    e = "<"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob[off:off + 2]))[0]
        if tag == 322:
            blob[off + 8:off + 12] = struct.pack(e + "I", 0)
    with pytest.raises(ValueError, match="zero tile"):
        decode_tiff(bytes(blob))
    # truncated tile data
    blob2 = encode_tiff(gray, compression=5, tile=(16, 16))
    with pytest.raises(ValueError):
        decode_tiff(blob2[: len(blob2) // 3])


def test_malformed_streams_valueerror():
    with pytest.raises(ValueError):
        decode_tiff(b"")
    with pytest.raises(ValueError):
        decode_tiff(b"II*\x00\xff\xff\xff\xff")       # IFD past end
    blob = encode_tiff(_gray(16, 16), compression=5)
    with pytest.raises(ValueError):
        decode_tiff(blob[: len(blob) // 3])            # truncated strip


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=2048), st.sampled_from(list(TIFF_SIGS)))
def test_decode_totality_on_garbage(raw, sig):
    """Damaged input raises ValueError/NotImplementedError — never an
    unguarded numpy/struct/KeyError that would kill an Arrow task."""
    try:
        decode_tiff(sig + raw)
    except (ValueError, NotImplementedError):
        pass


def test_parse_tiff_meta_dims_and_description():
    """image_meta's header-only TIFF branch: dims from the first IFD;
    ImageDescription (270) surfaces as embedded text."""
    from geoparser_spark.operators.image_meta import (
        parse_image_meta,
        parse_tiff,
    )

    img = _gray(11, 22, seed=53)
    blob = bytearray(encode_tiff(img, compression=32773))
    got = parse_image_meta(bytes(blob))
    assert got is not None and got[:3] == ("tiff", 22, 11)
    assert got[3] == []
    # splice an ImageDescription ASCII tag into the IFD: rewrite the
    # entry count and append a (270, ASCII, n, offset) entry is complex;
    # instead encode once more and verify the parser tolerates and
    # reads an inline (<=4 byte) description via a handcrafted stream
    e = "<"
    desc = b"map\x00"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    entry = struct.pack(e + "HHI", 270, 2, 4) + desc
    # append the new entry at the IFD tail (tag 270 sorts after 262;
    # parse_tiff does not require sorted order) and bump the count
    next_off = ifd_off + 2 + 12 * n
    spliced = (bytes(blob[:ifd_off]) + struct.pack(e + "H", n + 1)
               + bytes(blob[ifd_off + 2:next_off]) + entry
               + bytes(blob[next_off:]))
    got2 = parse_image_meta(spliced)
    assert got2 is not None and got2[0] == "tiff"
    assert got2[3] == ["map"]


def test_zero_count_tag_entry_is_valueerror_not_indexerror():
    """A zero-count IFD entry must not poison tag defaults: decode
    treats it as absent (required tags then fail as ValueError)."""
    img = _gray(6, 6)
    blob = bytearray(encode_tiff(img))
    e = "<"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob[off:off + 2]))[0]
        if tag == 259:                 # Compression: count -> 0
            blob[off + 4:off + 8] = struct.pack(e + "I", 0)
    # zero-count Compression falls back to the default (1 = none)
    assert np.array_equal(decode_tiff(bytes(blob)), img)
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob[off:off + 2]))[0]
        if tag == 256:                 # required ImageWidth: count -> 0
            blob[off + 4:off + 8] = struct.pack(e + "I", 0)
    with pytest.raises(ValueError, match="missing required"):
        decode_tiff(bytes(blob))


def test_padded_last_strip_tolerated_for_all_compressions():
    """Writers may pad the final strip to full rows_per_strip; the
    decoder accepts the overrun and truncates to the image rows."""
    img = _gray(10, 8, seed=59)
    rps = 4
    for comp in (5, 32773, 8):
        # encode a padded pixel array via the public encoder, then
        # patch the height back down: the last strip now decodes to a
        # full 4 rows for a 2-row image tail
        tall = np.vstack([img, np.full((2, 8), 0xAB, np.uint8)])
        blob2 = bytearray(encode_tiff(tall, rows_per_strip=rps,
                                      compression=comp))
        e = "<"
        (ifd_off,) = struct.unpack(e + "I", bytes(blob2[4:8]))
        (n,) = struct.unpack(e + "H", bytes(blob2[ifd_off:ifd_off + 2]))
        for i in range(n):
            off = ifd_off + 2 + 12 * i
            tag = struct.unpack(e + "H", bytes(blob2[off:off + 2]))[0]
            if tag == 257:             # ImageLength 12 -> 10
                blob2[off + 8:off + 12] = struct.pack(e + "I", 10)
        assert np.array_equal(decode_tiff(bytes(blob2)), img), comp


def test_decoded_arrays_are_writable():
    rng = np.random.default_rng(61)
    rgb = rng.integers(0, 256, size=(5, 6, 3)).astype(np.uint8)
    out = decode_tiff(encode_tiff(rgb))
    assert out.flags.writeable
    out[0, 0, 0] = 0                   # must not raise
    gray = decode_tiff(encode_tiff(_gray(5, 6)))
    assert gray.flags.writeable


def test_make_mini_tiff_caption_roundtrip():
    """The breadth-canary fixture: caption in ImageDescription (270)
    surfaces through parse_image_meta exactly, with the declared dims."""
    from geoparser_spark.operators.image_meta import (
        make_mini_tiff,
        parse_image_meta,
    )

    got = parse_image_meta(make_mini_tiff(4, 2, ["caffé ☕ caption"]))
    assert got == ("tiff", 4, 2, ["caffé ☕ caption"])
    two = parse_image_meta(make_mini_tiff(3, 3, ["desc", "soft"]))
    assert two == ("tiff", 3, 3, ["desc", "soft"])


def test_jpeg_in_tiff_decodes_real_pixels():
    """New-style JPEG-in-TIFF (compression 7): the TIFF wrapper must
    land on exactly the pixels decode_jpeg produces for the same
    streams — single strip, multi strip, and the JPEGTables (tag 347)
    abbreviated layout."""
    from geoparser_spark.operators.jpeg_codec import (decode_jpeg,
                                                      encode_jpeg_gray)

    rng = np.random.default_rng(67)
    img = rng.integers(0, 256, size=(37, 53)).astype(np.uint8)
    direct = decode_jpeg(encode_jpeg_gray(img))
    assert np.array_equal(decode_tiff(encode_tiff(img, compression=7)),
                          direct)
    exp = np.vstack([decode_jpeg(encode_jpeg_gray(img[y0:y0 + 16]))
                     for y0 in range(0, 37, 16)])
    plain = encode_tiff(img, compression=7, rows_per_strip=16)
    split = encode_tiff(img, compression=7, rows_per_strip=16,
                        split_jpeg_tables=True)
    assert np.array_equal(decode_tiff(plain), exp)
    assert np.array_equal(decode_tiff(split), exp)
    assert len(split) < len(plain)      # tables hoisted once, not per strip


def test_jpeg_in_tiff_guards():
    rng = np.random.default_rng(71)
    img = rng.integers(0, 256, size=(12, 20)).astype(np.uint8)
    blob = encode_tiff(img, compression=7)
    # truncated strip data degrades as ValueError
    with pytest.raises(ValueError):
        decode_tiff(blob[: len(blob) - 40])
    # compression 6 WITHOUT an interchange stream (no tags 513/514)
    # degrades as the withdrawn per-strip layout
    e = "<"
    b = bytearray(blob)
    (ifd_off,) = struct.unpack(e + "I", bytes(b[4:8]))
    (n,) = struct.unpack(e + "H", bytes(b[ifd_off:ifd_off + 2]))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(b[off:off + 2]))[0]
        if tag == 259:
            b[off + 8:off + 10] = struct.pack(e + "H", 6)
    with pytest.raises(NotImplementedError, match="withdrawn"):
        decode_tiff(bytes(b))
    with pytest.raises(ValueError, match="grayscale only"):
        encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8), compression=7)
    with pytest.raises(ValueError, match="compression=7"):
        encode_tiff(img, split_jpeg_tables=True)


def test_old_style_jpeg_interchange_decodes():
    from geoparser_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(97)
    for (h, w) in [(8, 8), (13, 21), (32, 17)]:
        img = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        got = decode_tiff(encode_tiff(img, compression=6))
        # pinned against decode_jpeg of the identical stream
        exp = decode_jpeg(encode_jpeg_gray(img))[:h, :w]
        assert got.shape == (h, w)
        assert np.array_equal(got, exp)


def test_old_style_jpeg_ycbcr_interchange_decodes():
    # photometric 6 must reach the compression-6 branch (review
    # finding: the CMYK/YCbCr guard used to exempt photometric 6 only
    # for compression 7, making this path unreachable)
    from geoparser_spark.operators.jpeg_codec import (
        decode_jpeg,
        encode_jpeg_coeffs,
    )
    from geoparser_spark.operators.tiff_codec import _emit_tiff

    rng = np.random.default_rng(103)
    h, w = 14, 22
    grids = [rng.integers(-4, 5, size=(2, 3, 8, 8)).astype(np.int64)
             for _ in range(3)]
    stream = encode_jpeg_coeffs(grids, h, w)
    blob = _emit_tiff([stream], "<", w, h, 3, 8, 6, 1, 6, None, None,
                      h, None, False, old_jpeg=True)
    got = decode_tiff(blob)
    exp = decode_jpeg(stream)
    assert got.shape == (h, w, 3)
    assert np.array_equal(got, exp[:h, :w])


def test_old_style_jpeg_guards():
    rng = np.random.default_rng(101)
    img = rng.integers(0, 256, size=(9, 9)).astype(np.uint8)
    blob = bytearray(encode_tiff(img, compression=6))
    # strip tag 513 away: the withdrawn per-strip layout degrades
    e = "<"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        if struct.unpack(e + "H", bytes(blob[off:off + 2]))[0] == 513:
            blob[off:off + 2] = struct.pack(e + "H", 50000)
    with pytest.raises(NotImplementedError, match="withdrawn"):
        decode_tiff(bytes(blob))
    # interchange length overrunning the stream is a ValueError
    blob = bytearray(encode_tiff(img, compression=6))
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        if struct.unpack(e + "H", bytes(blob[off:off + 2]))[0] == 514:
            blob[off + 8:off + 12] = struct.pack(e + "I", 1 << 24)
    with pytest.raises(ValueError, match="past end"):
        decode_tiff(bytes(blob))
    # fixture encoder is single-stream grayscale only
    with pytest.raises(ValueError, match="grayscale"):
        encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8), compression=6)
    with pytest.raises(ValueError, match="interchange"):
        encode_tiff(img, compression=6, tile=(16, 16))


def test_large_undefined_tags_are_skipped_not_fatal():
    """Multi-MB UNDEFINED tags (ICC profiles, Photoshop
    ImageSourceData) must be skipped by the IFD walk, not parsed or
    rejected — only JPEGTables (347) is pixel-relevant."""
    img = _gray(9, 11, seed=73)
    blob = bytearray(encode_tiff(img, compression=5))
    e = "<"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    # rewrite an inessential tag (277 SamplesPerPixel, default 1) into
    # a type-7 entry with a preposterous count: decode must still work
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob[off:off + 2]))[0]
        if tag == 277:
            blob[off:off + 8] = struct.pack(e + "HHI", 37724, 7,
                                            2_000_000)
    assert np.array_equal(decode_tiff(bytes(blob)), img)


def test_jpeg_in_tiff_planar_and_component_guards():
    from geoparser_spark.operators.tiff_codec import _read_ifd

    rng = np.random.default_rng(83)
    img = rng.integers(0, 256, size=(16, 32)).astype(np.uint8)
    blob = bytearray(encode_tiff(img, compression=7))
    e = "<"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))

    def patch(b, tag_from, tag_to, value):
        for i in range(n):
            off = ifd_off + 2 + 12 * i
            tag = struct.unpack(e + "H", bytes(b[off:off + 2]))[0]
            if tag == tag_from:
                b[off:off + 2] = struct.pack(e + "H", tag_to)
                b[off + 8:off + 12] = struct.pack(e + "I", value)

    # declare photometric 6 / spp 3 over 1-component strips: the
    # component-count check must reject, not silently return gray
    b = bytearray(blob)
    patch(b, 262, 262, 6)
    patch(b, 277, 277, 3)
    with pytest.raises(ValueError, match="component count"):
        decode_tiff(bytes(b))
    # planar JPEG-in-TIFF degrades (repurpose the RowsPerStrip slot
    # into PlanarConfiguration=2 — rps then defaults to full height)
    b = bytearray(blob)
    patch(b, 262, 262, 6)
    patch(b, 277, 277, 3)
    patch(b, 278, 284, 2)
    with pytest.raises(NotImplementedError, match="planar JPEG"):
        decode_tiff(bytes(b))
