"""CCITT fax codec: exact round-trips for MH / G3-1D / G4 across
photometrics and strip layouts; known ITU-T codeword vectors; degrade
contract.

All three compressions are lossless on bilevel input, so every
encode→decode must be BIT-IDENTICAL — the same exactness discipline as
the other codec suites.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geoparser_spark.operators import ccitt_codec as cc
from geoparser_spark.operators.tiff_codec import decode_tiff, encode_tiff


def _speckle(h, w, p=0.3, seed=7):
    rng = np.random.default_rng(seed)
    return (rng.random((h, w)) < p).astype(np.uint8)


@pytest.mark.parametrize("comp", [2, 3, 4])
def test_raw_codec_roundtrips(comp):
    dec = {2: cc.decode_mh, 3: cc.decode_g3_1d, 4: cc.decode_g4}[comp]
    rng = np.random.default_rng(11)
    cases = [
        _speckle(23, 57),
        np.zeros((5, 40), dtype=np.uint8),          # all white
        np.ones((5, 40), dtype=np.uint8),           # all black
        ((np.arange(17)[:, None] + np.arange(31)[None, :]) % 2
         ).astype(np.uint8),                        # checkerboard
        (rng.random((9, 3000)) < 0.01).astype(np.uint8),  # >2560 runs
        np.array([[1]], dtype=np.uint8),            # 1x1 black
        np.array([[0]], dtype=np.uint8),            # 1x1 white
    ]
    for img in cases:
        out = dec(cc.encode_ccitt(img, comp), img.shape[1], img.shape[0])
        assert np.array_equal(out, img)


@pytest.mark.parametrize("comp", [2, 3, 4])
@pytest.mark.parametrize("phot", [0, 1])
def test_tiff_integration_matches_uncompressed(comp, phot):
    """CCITT decode must land on the same luminance as the identical
    image stored as uncompressed 1-bit with the same photometric."""
    img = _speckle(19, 43, seed=23)
    got = decode_tiff(encode_tiff(img, compression=comp,
                                  photometric=phot, bits=1))
    ref = decode_tiff(encode_tiff(img, compression=1,
                                  photometric=phot, bits=1))
    assert np.array_equal(got, ref)
    assert set(np.unique(got)) <= {0, 255}


def test_multi_strip_independent_blocks():
    """Each strip is an independent CCITT block (G4 reference line
    resets), so strip size must not change the pixels."""
    img = _speckle(29, 61, seed=31)
    base = decode_tiff(encode_tiff(img, compression=1, bits=1))
    for comp in (2, 3, 4):
        for rps in (4, 7, 29):
            got = decode_tiff(encode_tiff(img, compression=comp,
                                          bits=1, rows_per_strip=rps))
            assert np.array_equal(got, base), (comp, rps)


def test_known_itu_codewords():
    """Spot-pin table entries against the published T.4 values so a
    mistyped table cannot silently round-trip."""
    # white run 0 = 00110101 (8 bits)
    bw = cc._BitWriter()
    cc._emit_run(bw, 0, black=False)
    assert bw.getvalue() == bytes([0b00110101])
    # black run 2 = 11, black run 3 = 10 (2 bits each)
    bw = cc._BitWriter()
    cc._emit_run(bw, 2, black=True)
    cc._emit_run(bw, 3, black=True)
    assert bw.getvalue() == bytes([0b11100000])
    # white makeup 1664 = 011000 (6) + white 0 term (8)
    bw = cc._BitWriter()
    cc._emit_run(bw, 1664, black=False)
    assert bw.getvalue() == bytes([0b01100000, 0b11010100])
    # one all-white G4 row of width 10 is a single V0 bit, then EOFB:
    # 1 + 000000000001 + 000000000001 -> 0x80 0x08 0x00 0x80
    data = cc.encode_ccitt(np.zeros((1, 10), dtype=np.uint8), 4)
    assert data == bytes([0x80, 0x08, 0x00, 0x80])
    assert np.array_equal(cc.decode_g4(data, 10, 1),
                          np.zeros((1, 10), dtype=np.uint8))


def test_g4_vertical_pass_horizontal_modes_all_hit():
    """A row pattern shifted against its reference exercises V±, pass
    and horizontal modes in one image."""
    img = np.zeros((6, 64), dtype=np.uint8)
    img[0, 10:20] = 1                 # establish reference runs
    img[1, 11:21] = 1                 # VR1/VL1
    img[2, 14:24] = 1                 # VR3 + beyond
    img[3, 40:50] = 1                 # horizontal jump
    img[4, 8:9] = 1                   # short run, pass mode vs row 3
    img[5, :] = 1                     # all black
    out = cc.decode_g4(cc.encode_ccitt(img, 4), 64, 6)
    assert np.array_equal(out, img)


def test_malformed_streams_raise_valueerror():
    img = _speckle(9, 33, seed=41)
    for comp, dec in ((2, cc.decode_mh), (3, cc.decode_g3_1d),
                      (4, cc.decode_g4)):
        data = cc.encode_ccitt(img, comp)
        with pytest.raises(ValueError):
            dec(data[: max(1, len(data) // 3)], 33, 9)
        # wrong declared width makes runs overflow or truncate
        with pytest.raises(ValueError):
            dec(data, 5, 9)
    with pytest.raises(ValueError):
        cc.decode_g4(b"\x00\x00\x00\x00", 16, 2)    # invalid mode code
    with pytest.raises(ValueError):
        cc.decode_mh(b"", 10, 1)
    with pytest.raises(ValueError):
        cc.decode_g4(b"\xff", 0, 1)                 # zero width


def test_tiff_level_guards():
    img = _speckle(8, 16, seed=43)
    # 2-D-extended Group 3 degrades (T4Options bit 0)
    import struct
    blob = bytearray(encode_tiff(img, compression=3, bits=1))
    e = "<"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    # append is hard in-place; instead rewrite an existing tag id 259's
    # neighbor? Simpler: patch tag 278 (RowsPerStrip) into 292 with
    # value 1 — the decoder then sees T4Options bit 0 set, and the
    # missing RowsPerStrip falls back to the full-height default.
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob[off:off + 2]))[0]
        if tag == 278:
            blob[off:off + 2] = struct.pack(e + "H", 292)
            blob[off + 8:off + 12] = struct.pack(e + "I", 1)
    with pytest.raises(NotImplementedError, match="Group 3"):
        decode_tiff(bytes(blob))
    # encoder contract guards
    with pytest.raises(ValueError, match="1-bit 2-D"):
        encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8), compression=4)
    with pytest.raises(ValueError, match="1-bit 2-D"):
        encode_tiff(img, compression=4, bits=8)
    with pytest.raises(ValueError, match="strips only"):
        encode_tiff(img, compression=4, bits=1, predictor=2)


def test_g4_tiff_decode_and_degrade():
    """A G4 TIFF decodes for real; a truncated one raises inside the
    ValueError/NotImplementedError degrade contract instead of an
    unguarded error."""
    img = _speckle(12, 30, seed=47)
    blob = encode_tiff(img, compression=4, photometric=0, bits=1)
    px = decode_tiff(blob)
    assert set(np.unique(px)) <= {0, 255}
    bad = blob[:40]
    with pytest.raises((ValueError, NotImplementedError)):
        decode_tiff(bad)


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 70), st.integers(1, 12), st.integers(0, 2 ** 31),
       st.sampled_from([2, 3, 4]))
def test_roundtrip_property(w, h, seed, comp):
    rng = np.random.default_rng(seed)
    img = (rng.random((h, w)) < rng.random()).astype(np.uint8)
    dec = {2: cc.decode_mh, 3: cc.decode_g3_1d, 4: cc.decode_g4}[comp]
    assert np.array_equal(dec(cc.encode_ccitt(img, comp), w, h), img)


def test_fillorder2_roundtrip_and_guards():
    """FillOrder 2 (lsb-first bytes) is the common real-world fax byte
    order: decode must bit-reverse before parsing; outside CCITT it
    degrades."""
    img = _speckle(14, 37, seed=53)
    for comp in (2, 3, 4):
        blob = encode_tiff(img, compression=comp, bits=1, fill_order=2)
        ref = decode_tiff(encode_tiff(img, compression=1, bits=1))
        assert np.array_equal(decode_tiff(blob), ref), comp
    with pytest.raises(ValueError, match="CCITT-only"):
        encode_tiff(_speckle(8, 8), fill_order=2)
    # FillOrder 2 patched onto a non-CCITT file degrades cleanly
    import struct
    blob = bytearray(encode_tiff(_speckle(8, 8), compression=5))
    e = "<"
    (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
    (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag = struct.unpack(e + "H", bytes(blob[off:off + 2]))[0]
        if tag == 277:                 # reuse SamplesPerPixel slot
            blob[off:off + 2] = struct.pack(e + "H", 266)
            blob[off + 8:off + 12] = struct.pack(e + "I", 2)
    with pytest.raises(NotImplementedError, match="FillOrder 2"):
        decode_tiff(bytes(blob))


def test_uncompressed_mode_options_degrade():
    """T4Options/T6Options bit 1 (uncompressed-mode extension) is
    legal-but-unsupported: NotImplementedError, not 'malformed'."""
    import struct
    img = _speckle(8, 16, seed=59)
    for comp, opt_tag in ((3, 292), (4, 293)):
        blob = bytearray(encode_tiff(img, compression=comp, bits=1))
        e = "<"
        (ifd_off,) = struct.unpack(e + "I", bytes(blob[4:8]))
        (n,) = struct.unpack(e + "H", bytes(blob[ifd_off:ifd_off + 2]))
        for i in range(n):
            off = ifd_off + 2 + 12 * i
            tag = struct.unpack(e + "H", bytes(blob[off:off + 2]))[0]
            if tag == 277:
                blob[off:off + 2] = struct.pack(e + "H", opt_tag)
                blob[off + 8:off + 12] = struct.pack(e + "I", 2)
        with pytest.raises(NotImplementedError, match="uncompressed mode"):
            decode_tiff(bytes(blob))


def test_g4_dense_wide_rows_decode_in_linear_time():
    """The reference-line search resumes from a per-row hint, so a
    dense checkerboard (the worst case: one changing element per
    pixel) must decode in time linear in its pixel count — the
    pre-fix quadratic scan took >1s for this fixture."""
    import time
    w = 8000
    img = ((np.arange(2)[:, None] + np.arange(w)[None, :]) % 2
           ).astype(np.uint8)
    data = cc.encode_ccitt(img, 4)
    t0 = time.perf_counter()
    out = cc.decode_g4(data, w, 2)
    wall = time.perf_counter() - t0
    assert np.array_equal(out, img)
    assert wall < 0.5, f"dense G4 row decode took {wall:.2f}s"


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=1, max_size=512), st.sampled_from([2, 3, 4]))
def test_fuzz_never_unguarded(data, comp):
    """Garbage streams must raise ValueError, never an unguarded
    numpy/struct/index error."""
    dec = {2: cc.decode_mh, 3: cc.decode_g3_1d, 4: cc.decode_g4}[comp]
    try:
        out = dec(data, 40, 8)
        assert out.shape == (8, 40)
    except ValueError:
        pass
