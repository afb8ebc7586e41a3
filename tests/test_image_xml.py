"""XML and image_bytes extraction kinds: golden cases, degrade
contract, and property tests (fixture writer vs parser round-trip)."""

import base64
import struct
import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from geoparser_spark.operators.extract import extract_doc_spans_cols
from geoparser_spark.operators.image_meta import (
    extract_image_b64_spans,
    extract_image_spans,
    make_mini_bmp,
    make_mini_gif,
    make_mini_jpeg,
    make_mini_png,
    parse_image_meta,
    parse_webp,
)
from geoparser_spark.operators.xml_text import (
    extract_xml_text_blocks,
    make_mini_xml,
)
from geoparser_spark.testing.corpus import span_columns

# ------------------------------------------------------------------ xml

def test_xml_child_blocks_in_document_order():
    x = make_mini_xml(["First  block", "Second block"])
    assert extract_xml_text_blocks(x) == ["First block", "Second block"]


def test_xml_escapes_round_trip():
    x = make_mini_xml(["a < b & c > d"])
    assert extract_xml_text_blocks(x) == ["a < b & c > d"]


def test_xml_root_text_and_tails():
    assert extract_xml_text_blocks("<a> lead <b>inner</b> tail </a>") == [
        "lead", "inner", "tail"]


def test_xml_nested_descendants_one_block_per_root_child():
    x = "<r><p>one <i>two</i> three</p><p>four</p></r>"
    assert extract_xml_text_blocks(x) == ["one two three", "four"]


def test_xml_no_children_single_block():
    assert extract_xml_text_blocks("<a>  only\n text </a>") == ["only text"]


def test_xml_degrade_contract():
    assert extract_xml_text_blocks("") == []
    assert extract_xml_text_blocks("plain text") == []
    assert extract_xml_text_blocks("<a><b></a>") == []  # malformed
    assert extract_xml_text_blocks(
        '<!DOCTYPE a [<!ENTITY x "y">]><a>&x;</a>') == []  # entity guard


@settings(max_examples=60, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(min_codepoint=32,
                                               max_codepoint=0x2FF),
                        min_size=1, max_size=40), min_size=1, max_size=5))
def test_xml_writer_parser_roundtrip(blocks):
    expect = [" ".join(b.split()) for b in blocks]
    expect = [b for b in expect if b]
    assert extract_xml_text_blocks(make_mini_xml(blocks)) == expect


# ---------------------------------------------------------------- images

def test_png_dims_and_text_chunks():
    raw = make_mini_png(4, 3, ["cap  one", "cap two"])
    assert extract_image_spans(raw) == [
        ("image", None, "img://png/4x3"),
        ("text", "cap one", None),
        ("text", "cap two", None),
    ]


def test_png_is_spec_valid_zlib_and_crc():
    raw = make_mini_png(5, 2)
    # walk chunks verifying CRCs; decompress IDAT and check size
    i = 8
    seen = {}
    while i + 8 <= len(raw):
        (length,) = struct.unpack(">I", raw[i:i + 4])
        ctype = raw[i + 4:i + 8]
        data = raw[i + 8:i + 8 + length]
        (crc,) = struct.unpack(">I", raw[i + 8 + length:i + 12 + length])
        assert crc == zlib.crc32(ctype + data) & 0xFFFFFFFF
        seen[ctype] = data
        i += 12 + length
    assert zlib.decompress(seen[b"IDAT"]) == b"".join(
        b"\x00" + bytes(5) for _ in range(2))


def test_jpeg_dims_and_comments():
    raw = make_mini_jpeg(7, 5, ["hello jpeg"])
    assert extract_image_spans(raw) == [
        ("image", None, "img://jpeg/7x5"),
        ("text", "hello jpeg", None),
    ]


def test_gif_comment_spans_multiple_subblocks():
    long = "x" * 600
    raw = make_mini_gif(9, 2, [long])
    spans = extract_image_spans(raw)
    assert spans[0] == ("image", None, "img://gif/9x2")
    assert spans[1] == ("text", long, None)


def test_image_degrade_contract():
    assert extract_image_spans(b"") == []
    assert extract_image_spans(b"garbage bytes") == []
    assert extract_image_b64_spans("!!! not base64") == []
    # truncated PNG: signature + half an IHDR
    assert parse_image_meta(make_mini_png(2, 2)[:12]) is None


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 4096), st.integers(1, 4096),
       st.sampled_from(["png", "jpeg", "gif"]))
def test_image_dims_roundtrip(w, h, fmt):
    if fmt == "png":
        raw = make_mini_png(min(w, 64), min(h, 64))  # bound IDAT size
        w, h = min(w, 64), min(h, 64)
    elif fmt == "jpeg":
        raw = make_mini_jpeg(w, h)
    else:
        w, h = min(w, 65535), min(h, 65535)
        raw = make_mini_gif(w, h)
    got = parse_image_meta(raw)
    assert got is not None and (got[0], got[1], got[2]) == (fmt, w, h)


def test_parse_webp_dims_all_three_chunk_kinds():
    """image_meta's header-only WebP branch: lossy VP8, lossless VP8L
    and extended VP8X dims all parse; garbage after 'RIFF....WEBP'
    returns None rather than raising."""

    def riff(fourcc, body):
        pad = b"\x00" if len(body) % 2 else b""
        chunk = fourcc + struct.pack("<I", len(body)) + body + pad
        return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk

    vp8 = riff(b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a"
               + struct.pack("<HH", 320, 240) + b"\x00" * 4)
    assert parse_image_meta(vp8) == ("webp", 320, 240, [])
    bits = (99 & 0x3FFF) | ((49 & 0x3FFF) << 14)
    vp8l = riff(b"VP8L", bytes([0x2F]) + struct.pack("<I", bits))
    assert parse_webp(vp8l) == (100, 50, [])
    vp8x = riff(b"VP8X", b"\x00\x00\x00\x00"
                + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"))
    assert parse_webp(vp8x) == (640, 480, [])
    assert parse_webp(b"RIFF\x04\x00\x00\x00WAVE") is None
    assert parse_webp(b"RIFF\x10\x00\x00\x00WEBPJUNK\x00\x00\x00\x00") is None


def test_parse_bmp_meta_dims_both_row_orders():
    """parse_image_meta reads BMP dims from the info header, bottom-up
    and top-down (negative height) alike."""
    assert parse_image_meta(make_mini_bmp(5, 7)) == ("bmp", 5, 7, [])
    top = make_mini_bmp(5, 7, top_down=True)
    assert struct.unpack("<i", top[22:26]) == (-7,)
    assert parse_image_meta(top) == ("bmp", 5, 7, [])


def test_image_and_xml_kinds_through_extract_dispatch():
    png = make_mini_png(4, 3, ["embedded caption"])
    spans = [
        {"kind": "xml", "text": make_mini_xml(["x one"]), "media_ref": None,
         "offset": 0},
        {"kind": "image_bytes", "text": base64.b64encode(png).decode(),
         "media_ref": None, "offset": 1},
    ]
    assert extract_doc_spans_cols(*span_columns(spans), 0, len(spans)) == [
        ("text", "x one", None, 0),
        ("image", None, "img://png/4x3", 1),
        ("text", "embedded caption", None, 2),
    ]


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_image_parser_never_throws_on_random_bytes(raw):
    # degrade contract: arbitrary bytes parse to None/[] — no exception
    got = parse_image_meta(raw)
    assert got is None or isinstance(got, tuple)
    extract_image_spans(raw)


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400),
       st.sampled_from([b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"GIF89a"]))
def test_image_parser_never_throws_on_corrupt_headers(raw, sig):
    # valid magic + garbage body must also degrade, never raise
    got = parse_image_meta(sig + raw)
    assert got is None or isinstance(got, tuple)


@settings(max_examples=100, deadline=None)
@given(st.text(min_size=0, max_size=300))
def test_xml_extractor_never_throws_on_random_text(s):
    assert isinstance(extract_xml_text_blocks(s), list)


def test_xml_entity_guard_not_evaded_by_long_comment_prolog():
    evil = ("<!-- " + "x" * 5000 + " -->"
            '<!DOCTYPE a [<!ENTITY x "y">]><a>&x;</a>')
    assert extract_xml_text_blocks(evil) == []


def test_xml_doctype_literal_in_body_is_not_a_false_positive():
    ok = "<a><![CDATA[<!DOCTYPE x [ ]]]></a>"
    assert extract_xml_text_blocks(ok) == ["<!DOCTYPE x [ ]"]
    commented = "<!-- <!DOCTYPE a [ --><a>fine</a>"
    assert extract_xml_text_blocks(commented) == ["fine"]


def test_png_caption_utf8_round_trip():
    raw = make_mini_png(2, 2, ["İstanbul 北京 café"])
    assert extract_image_spans(raw)[1] == ("text", "İstanbul 北京 café", None)


def test_jpeg_long_comment_chunks_instead_of_crashing():
    long = "y" * 70000
    raw = make_mini_jpeg(3, 3, [long])
    got = parse_image_meta(raw)
    assert got is not None and (got[1], got[2]) == (3, 3)
    assert "".join(got[3]) == long and len(got[3]) == 2  # two COM chunks


# ------------------------------------------------------------------ csv

def test_csv_rows_and_quoting():
    from geoparser_spark.operators.csv_text import (
        extract_csv_text_blocks,
        make_mini_csv,
    )

    doc = make_mini_csv([["Paris, France", "pop 2M"], ["Berlin", "pop 3M"]])
    assert extract_csv_text_blocks(doc) == [
        "Paris, France pop 2M", "Berlin pop 3M"]
    tsv = make_mini_csv([["a b", "c"], ["d", "e"]], delimiter="\t")
    assert extract_csv_text_blocks(tsv) == ["a b c", "d e"]
    assert extract_csv_text_blocks("") == []
    assert extract_csv_text_blocks("   \n  ") == []
    # embedded newline inside a quoted cell stays one row
    doc2 = make_mini_csv([["line1\nline2", "x"]])
    assert extract_csv_text_blocks(doc2) == ["line1 line2 x"]


from hypothesis import strategies as _st


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(st.text(alphabet=_st.characters(
    min_codepoint=32, max_codepoint=126,
    # delimiter sniffing is deterministic, not magic: a tab-written
    # one-column file whose only delimiter-ish char is a comma sniffs
    # as comma (golden test covers quoted embedded delimiters)
    exclude_characters=',\t"'), min_size=1, max_size=20),
    min_size=1, max_size=3), min_size=1, max_size=4),
    st.sampled_from([",", "\t"]))
def test_csv_writer_reader_roundtrip(rows, delim):
    from geoparser_spark.operators.csv_text import (
        extract_csv_text_blocks,
        make_mini_csv,
    )

    expect = []
    for r in rows:
        b = " ".join(" ".join(c for c in r if c).split())
        if b:
            expect.append(b)
    assert extract_csv_text_blocks(make_mini_csv(rows, delim)) == expect


# ------------------------------------------------------------ exif tags

def test_exif_tags_full_surface():
    from geoparser_spark.operators.image_meta import (
        make_exif_tags_app1,
        make_mini_jpeg,
        parse_exif_tags,
        parse_jpeg,
    )

    app1 = make_exif_tags_app1(
        {"make": "ACME", "model": "Cam 9000",
         "description": "Harbor at dawn", "artist": "J. Doe",
         "software": "darkroom 1.2", "copyright": "(c) 2021",
         "datetime": "2021:03:04 05:06:07"},
        orientation=6, datetime_original="2021:03:04 05:06:00")
    blob = make_mini_jpeg(40, 30, comments=["a comment"], app1=app1)
    tags = parse_exif_tags(blob)
    assert tags == {"description": "Harbor at dawn", "make": "ACME",
                    "model": "Cam 9000", "software": "darkroom 1.2",
                    "artist": "J. Doe", "copyright": "(c) 2021",
                    "datetime": "2021:03:04 05:06:07", "orientation": 6,
                    "datetime_original": "2021:03:04 05:06:00"}
    # EXIF texts surface ahead of COM, in canonical field order
    w, h, texts = parse_jpeg(blob)
    assert (w, h) == (40, 30)
    assert texts == ["Harbor at dawn", "ACME", "Cam 9000",
                     "darkroom 1.2", "J. Doe", "(c) 2021",
                     "2021:03:04 05:06:07", "2021:03:04 05:06:00",
                     "a comment"]


def test_exif_tags_degrade_and_absence():
    from geoparser_spark.operators.image_meta import (
        make_exif_tags_app1,
        make_mini_jpeg,
        parse_exif_gps,
        parse_exif_tags,
        parse_jpeg,
    )

    # no APP1 -> {} and COM-only texts (pre-EXIF behavior unchanged)
    assert parse_exif_tags(make_mini_jpeg(8, 8)) == {}
    assert parse_jpeg(make_mini_jpeg(8, 8, comments=["x"]))[2] == ["x"]
    # a GPS-only APP1 yields no ASCII fields but still resolves GPS
    gps_blob = make_mini_jpeg(
        8, 8, gps=((12, 30, 7.5), (4, 0, 0.0), False, True))
    assert parse_exif_tags(gps_blob) == {}
    assert parse_exif_gps(gps_blob) is not None
    # truncation anywhere degrades to partial/{} without raising
    app1 = make_exif_tags_app1({"make": "M"}, orientation=3)
    blob = make_mini_jpeg(8, 8, app1=app1)
    for cut in range(4, len(blob), 5):
        parse_exif_tags(blob[:cut] + b"\xff\xd9")
    # out-of-range orientation is dropped
    bad = bytearray(app1)
    at = bad.index((0x0112).to_bytes(2, "big"))
    bad[at + 8:at + 10] = (9).to_bytes(2, "big")
    tags = parse_exif_tags(make_mini_jpeg(8, 8, app1=bytes(bad)))
    assert "orientation" not in tags and tags["make"] == "M"


# ------------------------------------------------------------- exif gps

def test_exif_gps_round_trip_all_hemispheres():
    from geoparser_spark.operators.image_meta import (
        make_mini_jpeg,
        parse_exif_gps,
        parse_image_meta,
    )

    ne = make_mini_jpeg(5, 4, ["cap"], gps=((48, 51, 29.52), (2, 17, 40.2),
                                            False, False))
    lat, lon = parse_exif_gps(ne)
    assert abs(lat - (48 + 51 / 60 + 29.52 / 3600)) < 1e-9
    assert abs(lon - (2 + 17 / 60 + 40.2 / 3600)) < 1e-9
    # EXIF APP1 must not disturb the dims/comment walk
    assert parse_image_meta(ne)[:3] == ("jpeg", 5, 4)
    sw = make_mini_jpeg(2, 2, gps=((33, 52, 4.0), (151, 12, 36.0),
                                   True, True))
    lat, lon = parse_exif_gps(sw)
    assert lat < 0 and lon < 0


def test_exif_gps_degrade_contract():
    from geoparser_spark.operators.image_meta import (
        make_mini_jpeg,
        parse_exif_gps,
    )

    assert parse_exif_gps(make_mini_jpeg(2, 2)) is None  # no APP1
    assert parse_exif_gps(b"") is None
    assert parse_exif_gps(b"\xff\xd8\xff\xe1\x00\x04Ex") is None
    # truncated TIFF inside a well-formed APP1 wrapper
    bad = b"\xff\xd8\xff\xe1\x00\x0cExif\x00\x00MM\x00\x2a\xff\xd9"
    assert parse_exif_gps(bad) is None


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_exif_gps_never_throws(raw):
    from geoparser_spark.operators.image_meta import parse_exif_gps

    parse_exif_gps(b"\xff\xd8\xff\xe1" + raw)
