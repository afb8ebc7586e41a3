"""MP4/ISO-BMFF container parsing (operators/video_meta.py)."""

from geoparser_spark.operators.video_meta import (
    extract_video_spans,
    make_mini_mp4,
    parse_mp4,
)


def test_dims_duration_and_tags():
    b = make_mini_mp4(640, 360, 12345, titles=["My Clip", "tag two"])
    assert parse_mp4(b) == ("isom", 640, 360, 12345, ["My Clip", "tag two"])
    spans = extract_video_spans(b)
    assert spans[0] == ("video", None, "vid://isom/640x360/12345ms")
    assert [s[1] for s in spans[1:]] == ["My Clip", "tag two"]


def test_nonstandard_timescale_rounds_exactly():
    b = make_mini_mp4(1920, 1080, 60000, timescale=90000)
    assert parse_mp4(b)[3] == 60000


def test_audio_only_and_brand():
    b = make_mini_mp4(0, 0, 5000, brand="mp42")
    assert parse_mp4(b) == ("mp42", 0, 0, 5000, [])


def test_damage_degrades_empty():
    assert extract_video_spans(b"not an mp4") == []
    assert extract_video_spans(b"") == []
    good = make_mini_mp4(64, 64, 1000)
    assert parse_mp4(good[:20]) is None          # truncated mid-box
    # a box SIZE pointing past EOF must not loop or raise: corrupt the
    # moov box's size field (moov starts right after the 20-byte ftyp)
    assert parse_mp4(good[:20] + b"\xff\xff\xff\xff" + good[24:]) is None
    # garbage in a box BODY (the brand) degrades to a replaced string,
    # never an exception
    assert parse_mp4(good[:8] + b"\xff\xff\xff\xff" + good[12:])[1:] == \
        (64, 64, 1000, [])


def test_video_kind_through_spark_extract(spark):
    import base64

    from geoparser_spark.operators.extract import extract

    payload = base64.b64encode(
        make_mini_mp4(320, 240, 2500, titles=["hello video"])).decode()
    docs = spark.createDataFrame(
        [("v1", [{"kind": "video_bytes", "text": payload,
                  "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    got = sorted(
        extract(docs).select("doc_id", "spans").collect()[0].spans,
        key=lambda s: s.order)
    assert (got[0].kind, got[0].media_ref) == (
        "video", "vid://isom/320x240/2500ms")
    assert (got[1].kind, got[1].text) == ("text", "hello video")


# ------------------------------------------------- sample-table plan

import numpy as _np  # noqa: F401  (parity with sibling media tests)
import pytest as _pytest


def test_sample_table_plan_byte_exact_multichunk():
    """stsz/stts/stsc/stco/stss decode to byte ranges that really
    address the mdat payload — multi-chunk stsc walk included."""
    from geoparser_spark.operators.video_meta import (
        make_mini_mp4_samples,
        parse_sample_table,
    )

    sizes = [40, 55, 70, 33, 90, 41, 62]
    blob = make_mini_mp4_samples(sizes, delta_units=40,
                                 chunk_lens=[3, 2, 2], sync_every=3)
    plan = parse_sample_table(blob)
    assert len(plan) == len(sizes)
    off = 28
    for k, (idx, dts, o, sz, sync) in enumerate(plan):
        assert (idx, dts, sz) == (k, k * 40, sizes[k])
        assert o == off
        assert sync == (k % 3 == 0)
        assert blob[o] == (k * 31) % 256      # ranged read lands right
        assert blob[o + sz - 1] == (k * 31 + sz - 1) % 256
        off += sizes[k]


def test_sample_table_no_stss_means_all_sync():
    from geoparser_spark.operators.video_meta import (
        make_mini_mp4_samples,
        parse_sample_table,
    )

    plan = parse_sample_table(make_mini_mp4_samples([10, 20, 30]))
    assert all(sync for *_, sync in plan)


def test_sample_table_degrade_contract():
    from geoparser_spark.operators.video_meta import (
        make_mini_mp4,
        make_mini_mp4_samples,
        parse_sample_table,
    )

    # metadata-only MP4 (no stbl) is a clean ValueError, not a crash
    with _pytest.raises(ValueError):
        parse_sample_table(make_mini_mp4(width=16, height=16,
                                         duration_ms=1000))
    blob = make_mini_mp4_samples([10, 20, 30])
    with _pytest.raises(ValueError):
        parse_sample_table(blob[: len(blob) - 30])   # truncated stbl


def test_sample_table_rejects_out_of_stream_ranges_and_bad_stts():
    """Corrupt tables degrade instead of emitting a poisoned fetch
    plan: a byte range past EOF and an stts over-covering stsz both
    raise ValueError."""
    import struct as st_

    from geoparser_spark.operators.video_meta import (
        make_mini_mp4_samples,
        parse_sample_table,
    )

    blob = bytearray(make_mini_mp4_samples([10, 20, 30]))
    i = bytes(blob).index(b"stsz")
    # first per-sample size (after version/flags + sample_size + count)
    blob[i + 16:i + 20] = st_.pack(">I", 2 ** 31 + 5)
    with _pytest.raises(ValueError, match="past end of stream"):
        parse_sample_table(bytes(blob))
    blob2 = bytearray(make_mini_mp4_samples([10, 20, 30]))
    j = bytes(blob2).index(b"stts")
    # body: version/flags(4) entry_count(4) then (n_run, delta) — patch
    # the run LENGTH to over-cover the 3-sample stsz
    blob2[j + 12:j + 16] = st_.pack(">I", 99)
    with _pytest.raises(ValueError, match="more samples"):
        parse_sample_table(bytes(blob2))
