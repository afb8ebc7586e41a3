"""Audio container parsing (WAV/RIFF + FLAC): spec round-trips, degrade
contract, extract-dispatch integration.  Pure Python — no Spark session.
"""

import base64
import struct

import numpy as np
import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from geoparser_spark.operators.audio_meta import (
    extract_audio_b64_spans,
    extract_audio_spans,
    make_mini_flac,
    make_mini_wav,
    parse_audio_meta,
    parse_flac,
    parse_wav,
)
from geoparser_spark.operators.extract import extract_doc_spans_cols
from geoparser_spark.testing.corpus import span_columns


# Scalar encode->decode replays: the independent references the
# block-vectorized numpy ADPCM / G.711 decoders are compared against.

_IMA_STEP_TAB = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
]
_IMA_ADJ_TAB = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_replay(ch0: list, spb: int = 129) -> list:
    """Scalar replay of one channel through the IMA ADPCM
    encode->decode round trip.  The decoder's step update mirrors the
    encoder's by construction, so the decoded stream IS the encoder's
    predictor sequence — one state machine, independently checking the
    production block-vectorized numpy decode byte path."""
    out = []
    idx = 0
    n = len(ch0)
    for start in range(0, n, spb):
        pred = ch0[start]
        out.append(pred)
        for t in range(1, spb):
            k = start + t
            sample = ch0[k] if k < n else ch0[n - 1]
            step = _IMA_STEP_TAB[idx]
            diff = sample - pred
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            vp = step >> 3
            if diff >= step:
                nib |= 4
                diff -= step
                vp += step
            step >>= 1
            if diff >= step:
                nib |= 2
                diff -= step
                vp += step
            step >>= 1
            if diff >= step:
                nib |= 1
                vp += step
            pred = pred - vp if nib & 8 else pred + vp
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + _IMA_ADJ_TAB[nib & 7]))
            out.append(pred)
    return out[:n]                     # fact-chunk trim of the pad


_MS_COEF1_TAB = [256, 512, 0, 192, 240, 460, 392]
_MS_COEF2_TAB = [0, -256, 0, 64, 0, -208, -232]
_MS_ADAPT_TAB = [230, 230, 230, 230, 307, 409, 512, 614,
                 768, 614, 512, 409, 307, 230, 230, 230]


def _ms_replay(ch0: list, spb: int = 130) -> list:
    """Scalar replay of channel 0 through the MS-ADPCM encode->decode
    round trip (fixture encoder: predictor = block % 7 for channel 0,
    idelta carried across blocks from 16, truncating-division nibble
    quantizer; decoder arithmetic is the Microsoft spec's).  The
    decoded stream IS the encoder's reconstruction sequence — one
    state machine, independently checking the production
    block-vectorized numpy decode byte path."""
    out = []
    delta = 16
    n = len(ch0)
    for b, start in enumerate(range(0, n, spb)):
        c1 = _MS_COEF1_TAB[b % 7]
        c2 = _MS_COEF2_TAB[b % 7]
        s2 = ch0[start]
        s1 = ch0[start + 1] if start + 1 < n else s2
        out.extend((s2, s1))
        for t in range(2, spb):
            k = start + t
            sample = ch0[k] if k < n else ch0[n - 1]
            acc = s1 * c1 + s2 * c2
            pred = acc // 256 if acc >= 0 else -((-acc) // 256)  # C trunc
            err = sample - pred
            q = abs(err) // delta
            nib = max(-8, min(7, q if err >= 0 else -q))
            samp = max(-32768, min(32767, pred + nib * delta))
            s2, s1 = s1, samp
            delta = max(16, (_MS_ADAPT_TAB[nib & 0x0F] * delta) >> 8)
            out.append(samp)
    return out[:n]                     # fact-chunk trim of the pad


def _g711_replay(ch0: list, law: str) -> list:
    """Scalar replay of one channel through the G.711 encode->decode
    round trip: build the canonical 256-entry decode table, quantize
    each sample to the nearest table value (ties to the LOWER code —
    numpy argmin's first-minimum rule), return the decoded stream.
    The table arithmetic deliberately restates audio_meta's — the
    independent leg is the QUANTIZE path (scalar min-key vs numpy
    argmin over the byte stream); the table itself is double-entry
    pinned by the ITU anchor-point test, not by duplication."""
    tab = []
    for code in range(256):
        if law == "ulaw":
            u = ~code & 0xFF
            t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
            tab.append(0x84 - t if u & 0x80 else t - 0x84)
        else:
            a = code ^ 0x55
            t = (a & 0x0F) << 4
            seg = (a & 0x70) >> 4
            if seg == 0:
                t += 8
            elif seg == 1:
                t += 0x108
            else:
                t = (t + 0x108) << (seg - 1)
            tab.append(t if a & 0x80 else -t)
    out = []
    for s in ch0:
        best = min(range(256), key=lambda c: (abs(tab[c] - s), c))
        out.append(tab[best])
    return out


def test_wav_params_and_duration_floor():
    raw = make_mini_wav(sample_rate=8000, channels=1, bits=8, n_frames=4001)
    sr, ch, bits, ms, texts = parse_wav(raw)
    assert (sr, ch, bits) == (8000, 1, 8)
    assert ms == 4001 * 1000 // 8000  # floor, not round
    assert texts == []


def test_wav_stereo_16bit_byte_rate():
    raw = make_mini_wav(sample_rate=44100, channels=2, bits=16, n_frames=44100)
    sr, ch, bits, ms, _ = parse_wav(raw)
    assert (sr, ch, bits, ms) == (44100, 2, 16, 1000)


def test_wav_list_info_texts_in_byte_order():
    raw = make_mini_wav(comments=["second", "third"], title="first")
    *_, texts = parse_wav(raw)
    assert texts == ["first", "second", "third"]


def test_wav_odd_sized_info_chunk_is_word_aligned():
    # "abc" + NUL = 4 bytes (even), "ab" + NUL = 3 (odd -> pad byte);
    # the chunk after the odd one must still be found
    raw = make_mini_wav(comments=["ab", "next"], n_frames=10)
    sr, _, _, _, texts = parse_wav(raw)
    assert sr == 8000 and texts == ["ab", "next"]


def test_flac_streaminfo_bit_unpack():
    raw = make_mini_flac(sample_rate=96000, channels=8, bits=24, n_samples=96000)
    sr, ch, bits, ms, _ = parse_flac(raw)
    assert (sr, ch, bits, ms) == (96000, 8, 24, 1000)


def test_flac_vorbis_comment_values():
    raw = make_mini_flac(comments=["alpha", "beta"])
    *_, texts = parse_flac(raw)
    assert texts == ["COMMENT=alpha".split("=", 1)[1], "beta"]


def test_audio_spans_media_ref_format():
    raw = make_mini_wav(sample_rate=8000, channels=1, bits=8, n_frames=8000,
                        comments=["a  b"])
    spans = extract_audio_spans(raw)
    assert spans[0] == ("audio", None, "aud://wav/8000Hz/1ch/1000ms")
    assert spans[1] == ("text", "a b", None)  # whitespace-normalized


def test_audio_degrade_contract():
    assert parse_audio_meta(b"") is None
    assert parse_audio_meta(b"RIFFxxxx") is None
    assert parse_audio_meta(b"fLa") is None
    assert extract_audio_spans(b"\x00" * 64) == []
    assert extract_audio_b64_spans("not base64 !!!") == []


def test_wav_truncated_data_still_reports_nominal_duration():
    raw = make_mini_wav(sample_rate=1000, channels=1, bits=8, n_frames=500)
    assert parse_wav(raw)[3] == 500
    # chop the payload: declared size (ffprobe/Tika behavior) still wins
    assert parse_wav(raw[:-400])[3] == 500


def test_audio_kind_through_extract_dispatch():
    wav = make_mini_wav(comments=["embedded caption"], n_frames=100)
    doc = [
        {"kind": "text", "text": "before", "offset": 0},
        {"kind": "audio_bytes",
         "text": base64.b64encode(wav).decode(), "offset": 1},
    ]
    spans = extract_doc_spans_cols(*span_columns(doc), 0, len(doc))
    kinds = [(k, m) for k, _, m, _ in spans]
    assert kinds == [
        ("text", None),
        ("audio", "aud://wav/8000Hz/1ch/12ms"),
        ("text", None),
    ]
    assert spans[2][1] == "embedded caption"
    assert [o for *_, o in spans] == [0, 1, 2]


@given(st.binary(max_size=300))
@settings(max_examples=200, deadline=None)
def test_audio_parser_never_throws_on_random_bytes(raw):
    parse_audio_meta(raw)


@given(st.binary(max_size=300), st.sampled_from([b"RIFF", b"fLaC"]))
@settings(max_examples=200, deadline=None)
def test_audio_parser_never_throws_on_corrupt_headers(raw, sig):
    parse_audio_meta(sig + raw)
    if sig == b"RIFF":
        parse_audio_meta(b"RIFF" + raw[:4] + b"WAVE" + raw)


@given(
    st.sampled_from([8000, 11025, 44100, 96000]),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=0, max_value=100_000),
    st.sampled_from(["wav", "flac"]),
)
@settings(max_examples=60, deadline=None)
def test_audio_params_roundtrip(sr, ch, n, fmt):
    if fmt == "wav":
        ch = min(ch, 2)
        raw = make_mini_wav(sample_rate=sr, channels=ch, bits=8,
                            n_frames=min(n, 2000))
        got = parse_wav(raw)
        assert got[:2] == (sr, ch)
        assert got[3] == min(n, 2000) * 1000 // sr
    else:
        raw = make_mini_flac(sample_rate=sr, channels=ch, bits=16, n_samples=n)
        got = parse_flac(raw)
        assert got[:2] == (sr, ch)
        assert got[3] == n * 1000 // sr


# ------------------------------------------------- PCM sample decode

def test_wav_pcm_roundtrips_all_depths():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_pcm,
    )

    rng = np.random.default_rng(37)
    s = rng.integers(-32768, 32768, size=(257, 2)).astype(np.int64)
    for bits in (16, 24, 32):
        sr, got = decode_wav_pcm(make_wav_pcm(s, 44100, bits))
        assert sr == 44100
        assert np.array_equal(got, s)
    s8 = (s // 256) * 256
    _, got8 = decode_wav_pcm(make_wav_pcm(s8, 8000, 8))
    assert np.array_equal(got8, s8)


def test_wav_pcm_degrade_contract():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_pcm,
    )

    blob = bytearray(make_wav_pcm(np.zeros((4, 1), dtype=np.int64), 8000))
    blob[20:22] = struct.pack("<H", 0x55)    # MPEG layer 3 tag (seam)
    with pytest.raises(NotImplementedError, match="format tag 85"):
        decode_wav_pcm(bytes(blob))
    blob[20:22] = struct.pack("<H", 2)       # MS-ADPCM tag on a PCM fmt
    with pytest.raises(ValueError):          # no coefficient table
        decode_wav_pcm(bytes(blob))
    blob[20:22] = struct.pack("<H", 3)       # float tag with int16 depth
    with pytest.raises(ValueError, match="float bit depth"):
        decode_wav_pcm(bytes(blob))
    with pytest.raises(ValueError):
        decode_wav_pcm(b"RIFF\x00\x00\x00\x00WAVE")   # no fmt/data
    good = make_wav_pcm(np.zeros((64, 1), dtype=np.int64), 8000)
    with pytest.raises(ValueError):
        decode_wav_pcm(good[: len(good) // 2])        # chunk overrun


def test_wav_float_roundtrips_exact():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_float,
    )

    rng = np.random.default_rng(53)
    s = rng.integers(-32768, 32768, size=(311, 2)).astype(np.int64)
    for bits in (32, 64):
        sr, got = decode_wav_pcm(make_wav_float(s, 22050, bits))
        assert sr == 22050
        assert np.array_equal(got, s)


def test_wav_float_nonfinite_degrades():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_float,
    )

    blob = bytearray(make_wav_float(np.zeros((8, 1), dtype=np.int64), 8000))
    # overwrite the last float32 sample (final 4 data bytes) with NaN
    blob[-4:] = struct.pack("<f", float("nan"))
    with pytest.raises(ValueError, match="non-finite"):
        decode_wav_pcm(bytes(blob))
    # an out-of-range finite sample clips instead of failing
    blob[-4:] = struct.pack("<f", 7.5)
    _, got = decode_wav_pcm(bytes(blob))
    assert got[-1, 0] == 32767


def test_wav_extensible_pcm_roundtrips():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_pcm,
    )

    rng = np.random.default_rng(59)
    s = rng.integers(-32768, 32768, size=(129, 2)).astype(np.int64)
    blob = make_wav_pcm(s, 48000, 16, extensible=True)
    assert struct.unpack("<H", blob[20:22])[0] == 0xFFFE
    # the fixture carries the CANONICAL bytes_le KSDATAFORMAT_SUBTYPE_PCM
    # GUID (Data3 0x0010 little-endian), so external decoders accept it
    import uuid
    ks_pcm = uuid.UUID("00000001-0000-0010-8000-00AA00389B71")
    assert blob[20 + 24:20 + 40] == ks_pcm.bytes_le
    sr, got = decode_wav_pcm(blob)
    assert sr == 48000
    assert np.array_equal(got, s)
    # unsupported SubFormat tag stays the documented seam
    bad = bytearray(blob)
    # fmt body starts at offset 20; SubFormat tag sits at body[24:26]
    bad[20 + 24:20 + 26] = struct.pack("<H", 6)       # a-law GUID
    with pytest.raises(NotImplementedError, match="SubFormat 6"):
        decode_wav_pcm(bytes(bad))
    # a vendor GUID that merely STARTS with 01 00 must degrade, not
    # silently decode as PCM (full 16-byte namespace check)
    bad = bytearray(blob)
    bad[20 + 32] = 0x81                               # corrupt Data4
    with pytest.raises(NotImplementedError, match="KSDATAFORMAT"):
        decode_wav_pcm(bytes(bad))


def test_wav_ima_adpcm_matches_scalar_replay():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_adpcm,
    )

    rng = np.random.default_rng(61)
    # 2 channels, multiple blocks plus a padded tail (n % 129 != 0)
    s = rng.integers(-32768, 32768, size=(401, 2)).astype(np.int64)
    blob = make_wav_adpcm(s, 16000)
    sr, got = decode_wav_pcm(blob)
    assert sr == 16000
    assert got.shape == (401, 2)              # fact chunk trims the pad
    for c in range(2):
        assert got[:, c].tolist() == _ima_replay([int(v) for v in s[:, c]])
    # each block's first frame is stored verbatim in its header
    assert np.array_equal(got[0::129], s[0::129])


def test_wav_g711_decode_table_canonical_points():
    from geoparser_spark.operators.audio_meta import _g711_decode_table

    u = _g711_decode_table("ulaw")
    # G.711 µ-law anchors: code 0x00 = -32124, 0x80 = +32124,
    # both zero codes 0x7F / 0xFF decode to 0
    assert u[0x00] == -32124 and u[0x80] == 32124
    assert u[0x7F] == 0 and u[0xFF] == 0
    a = _g711_decode_table("alaw")
    # A-law anchors: 0x55 = -8, 0xD5 = +8, 0x2A = -32256, 0xAA = +32256
    assert a[0x55] == -8 and a[0xD5] == 8
    assert a[0x2A] == -32256 and a[0xAA] == 32256
    # both tables are odd-symmetric over the sign bit
    assert sorted(u) == sorted(-v for v in u)
    assert sorted(a) == sorted(-v for v in a)


def test_wav_g711_matches_scalar_replay():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_g711,
    )

    rng = np.random.default_rng(67)
    s = rng.integers(-32768, 32768, size=(301, 2)).astype(np.int64)
    for law, tag in (("ulaw", 7), ("alaw", 6)):
        blob = make_wav_g711(s, 8000, law)
        assert struct.unpack("<H", blob[20:22])[0] == tag
        sr, got = decode_wav_pcm(blob)
        assert sr == 8000 and got.shape == (301, 2)
        for c in range(2):
            assert got[:, c].tolist() == _g711_replay(
                [int(v) for v in s[:, c]], law)
        # re-encoding the decoded stream is a fixpoint (table values
        # quantize to themselves)
        _, again = decode_wav_pcm(make_wav_g711(got, 8000, law))
        assert np.array_equal(again, got)


def test_mp3_frame_walk_duration_and_params():
    from geoparser_spark.operators.audio_meta import make_mini_mp3, parse_mp3

    got = parse_mp3(make_mini_mp3(10))
    assert got == (44100, 2, 0, 10 * 1152 * 1000 // 44100, [])
    # layer/version table coverage: L1 (384 spf), L2, MPEG2 L3 (576)
    for layer, mpeg2, rate, br, spf in [(1, False, 48000, 224, 384),
                                        (2, False, 44100, 160, 1152),
                                        (3, True, 16000, 64, 576)]:
        got = parse_mp3(make_mini_mp3(5, rate, br, layer=layer,
                                      mpeg2=mpeg2))
        assert got is not None and got[0] == rate
        assert got[3] == 5 * spf * 1000 // rate
    # mono channel mode
    assert parse_mp3(make_mini_mp3(3, stereo=False))[1] == 1


def test_mp3_id3_tags_in_byte_order():
    from geoparser_spark.operators.audio_meta import (
        extract_audio_spans,
        make_mini_mp3,
        parse_audio_meta,
        parse_mp3,
    )

    blob = make_mini_mp3(7, 32000, 192, stereo=False,
                         id3v2_texts=["Sol Invictus", "Unit Artist"],
                         id3v1=("T1", "A1", "", "c0mment"))
    got = parse_mp3(blob)
    assert got[0] == 32000 and got[1] == 1
    assert got[4] == ["Sol Invictus", "Unit Artist", "T1", "A1",
                      "c0mment"]
    # dispatch + span contract
    assert parse_audio_meta(blob)[0] == "mp3"
    spans = extract_audio_spans(make_mini_mp3(4, id3v2_texts=["X"]))
    assert spans[0][2].startswith("aud://mp3/44100Hz/2ch/")
    assert ("text", "X", None) in spans


def test_mp3_id3v1_year_field():
    """The ID3v1 year (bytes 93-97 of the TAG block) is a text field
    between album and comment; a year-only tag still yields it."""
    from geoparser_spark.operators.audio_meta import make_mini_mp3, parse_mp3

    blob = make_mini_mp3(3, id3v1=("Title", "Artist", "Album", "note", "1987"))
    raw_tag = blob[-128:]
    assert raw_tag[:3] == b"TAG" and raw_tag[93:97] == b"1987"
    assert parse_mp3(blob)[4] == ["Title", "Artist", "Album", "1987", "note"]
    assert parse_mp3(make_mini_mp3(3, id3v1=("", "", "", "", "2001")))[4] == ["2001"]


def test_mp3_id3v22_and_unsync_tags():
    from geoparser_spark.operators.audio_meta import (
        _id3v2_texts,
        make_mini_mp3,
        parse_mp3,
    )

    def synchsafe(n):
        return bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F])

    # ID3v2.2: 6-byte frame headers, 3-char IDs
    f1 = b"TT2" + (6).to_bytes(3, "big") + b"\x00Title"
    f2 = b"TP1" + (7).to_bytes(3, "big") + b"\x00Artist"
    body = f1 + f2
    tag = b"ID3\x02\x00\x00" + synchsafe(len(body)) + body
    total, texts = _id3v2_texts(tag + b"rest")
    assert total == 10 + len(body)
    assert texts == ["Title", "Artist"]
    # a full v2.2-tagged stream parses end-to-end
    frames = make_mini_mp3(3)
    got = parse_mp3(tag + frames)
    assert got is not None and got[4] == ["Title", "Artist"]

    # v2.3 whole-tag unsynchronisation: UTF-16 text (BOM FF FE gets
    # FF 00-stuffed) must decode after de-stuffing
    text_utf16 = "café".encode("utf-16")    # starts FF FE
    frame = (b"TIT2" + len(text_utf16 + b"\x01").to_bytes(4, "big")
             + b"\x00\x00\x01" + text_utf16)
    stuffed = frame.replace(b"\xff", b"\xff\x00")
    tag = b"ID3\x03\x00\x80" + synchsafe(len(stuffed)) + stuffed
    total, texts = _id3v2_texts(tag)
    assert texts == ["café"], texts

    # v2.4 per-frame unsync flag (format flag 0x02)
    frame_body = b"\x01" + text_utf16
    unsynced = frame_body.replace(b"\xff", b"\xff\x00")
    frame = (b"TIT2" + synchsafe(len(unsynced)) + b"\x00\x02"
             + unsynced)
    tag = b"ID3\x04\x00\x00" + synchsafe(len(frame)) + frame
    total, texts = _id3v2_texts(tag)
    assert texts == ["café"], texts

    # v2.3 extended header is skipped, not misread as a frame
    ext = (10).to_bytes(4, "big") + b"\x00" * 10
    frame = b"TALB" + (6).to_bytes(4, "big") + b"\x00\x00" + b"\x00Album"
    tag = (b"ID3\x03\x00\x40" + synchsafe(len(ext + frame))
           + ext + frame)
    total, texts = _id3v2_texts(tag)
    assert texts == ["Album"], texts


def test_mp3_sync_false_positive_guard():
    from geoparser_spark.operators.audio_meta import make_mini_mp3, parse_mp3

    rng = np.random.default_rng(83)
    hits = sum(
        parse_mp3(bytes([0xFF])
                  + rng.integers(0, 256, size=50,
                                 dtype=np.uint8).tobytes()) is not None
        for _ in range(300))
    assert hits == 0
    # a single frame that ends exactly at EOF is still accepted
    one = make_mini_mp3(1)
    assert parse_mp3(one) is not None
    # ...but a single frame followed by junk is rejected
    assert parse_mp3(one + b"junk") is None


def test_wav_ms_adpcm_matches_scalar_replay():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_ms_adpcm,
    )

    rng = np.random.default_rng(71)
    # 2 channels, 4 blocks (predictor rotates through 4 coefficient
    # pairs per channel) plus a padded tail (n % 130 != 0)
    s = rng.integers(-32768, 32768, size=(417, 2)).astype(np.int64)
    blob = make_wav_ms_adpcm(s, 22050)
    sr, got = decode_wav_pcm(blob)
    assert sr == 22050
    assert got.shape == (417, 2)              # fact chunk trims the pad
    # channel 0 against the INDEPENDENT scalar replay (predictor b%7)
    assert got[:, 0].tolist() == _ms_replay([int(v) for v in s[:, 0]])
    # each block's first two frames are stored verbatim in its header
    for b in range(4):
        lo = b * 130
        assert np.array_equal(got[lo:lo + 2], s[lo:lo + 2])
    # re-encoding the decoded stream reconstructs a valid stream of
    # the same shape (not a fixpoint — the quantizer is lossy)
    _, again = decode_wav_pcm(make_wav_ms_adpcm(got, 22050))
    assert again.shape == got.shape


def test_wav_ms_adpcm_exercises_all_predictors():
    from geoparser_spark.operators.audio_meta import (
        _MS_COEF1,
        decode_wav_pcm,
        make_wav_ms_adpcm,
    )

    rng = np.random.default_rng(73)
    # mono, spb=10 -> 8 blocks over 80 frames: predictors 0..6 all used
    s = rng.integers(-32768, 32768, size=(80, 1)).astype(np.int64)
    blob = make_wav_ms_adpcm(s, 8000, samples_per_block=10)
    data_at = blob.index(b"data") + 8
    block_align = 7 + (10 - 2) // 2
    preds = [blob[data_at + b * block_align] for b in range(8)]
    assert preds == [b % 7 for b in range(8)]
    assert len(set(preds)) == len(_MS_COEF1)
    _, got = decode_wav_pcm(blob)
    assert got.shape == (80, 1)


def test_wav_ms_adpcm_prediction_truncates_toward_zero():
    # Microsoft's pseudocode divides the predictor sum by 256 with C
    # integer division (truncation toward zero); an arithmetic shift
    # would floor.  Craft a block whose sum is negative and not a
    # multiple of 256: predictor 3 (coef 192/64), s1=-101, s2=-3 ->
    # acc=-19584, trunc(-76.5)=-76 (floor would give -77).
    from geoparser_spark.operators.audio_meta import decode_wav_pcm

    spb, channels, block_align = 4, 1, 8
    body = struct.pack("<Bhhh", 3, 16, -101, -3) + b"\x00"  # nibbles 0,0
    fmt = struct.pack("<HHIIHHHHH", 0x02, channels, 8000,
                      8000 * block_align // spb, block_align, 4,
                      4 + 28, spb, 7)
    for c1, c2 in zip([256, 512, 0, 192, 240, 460, 392],
                      [0, -256, 0, 64, 0, -208, -232]):
        fmt += struct.pack("<hh", c1, c2)
    def chunk(cid, payload):
        pad = b"\x00" if len(payload) % 2 else b""
        return cid + struct.pack("<I", len(payload)) + payload + pad
    chunks = chunk(b"fmt ", fmt) + chunk(b"data", body)
    blob = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    _, got = decode_wav_pcm(blob)
    # frame order: s2, s1, then the two predicted samples
    assert got[:, 0].tolist()[:3] == [-3, -101, -76]


def test_wav_ms_adpcm_validation():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_ms_adpcm,
    )

    s = np.zeros((40, 1), dtype=np.int64)
    blob = bytearray(make_wav_ms_adpcm(s, 8000))
    # fmt body starts at offset 20: corrupt wSamplesPerBlock (body[18:20])
    blob[20 + 18:20 + 20] = struct.pack("<H", 57)
    with pytest.raises(ValueError, match="block layout"):
        decode_wav_pcm(bytes(blob))
    # coefficient count of zero kills the stream
    blob = bytearray(make_wav_ms_adpcm(s, 8000))
    blob[20 + 20:20 + 22] = struct.pack("<H", 0)
    with pytest.raises(ValueError, match="coefficient"):
        decode_wav_pcm(bytes(blob))
    # predictor index beyond the coefficient table kills the stream
    blob = bytearray(make_wav_ms_adpcm(s, 8000))
    data_at = blob.index(b"data") + 8          # first block header
    blob[data_at] = 7
    with pytest.raises(ValueError, match="predictor index"):
        decode_wav_pcm(bytes(blob))


def test_wav_ima_adpcm_validation():
    from geoparser_spark.operators.audio_meta import (
        decode_wav_pcm,
        make_wav_adpcm,
    )

    s = np.zeros((40, 1), dtype=np.int64)
    blob = bytearray(make_wav_adpcm(s, 8000))
    # fmt body starts at offset 20: corrupt wSamplesPerBlock (body[18:20])
    blob[20 + 18:20 + 20] = struct.pack("<H", 57)
    with pytest.raises(ValueError, match="block layout"):
        decode_wav_pcm(bytes(blob))
    # step index > 88 in the first block header kills the stream
    blob = bytearray(make_wav_adpcm(s, 8000))
    data_at = blob.index(b"data") + 8          # first block header
    blob[data_at + 2] = 97
    with pytest.raises(ValueError, match="step index"):
        decode_wav_pcm(bytes(blob))
