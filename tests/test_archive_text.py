"""Archive container extraction: zip/tar/gz entry recursion.

Pure-Python (no Spark session) — fixtures are built in-test with the
same stdlib writers real producers use, so this pins behavior on real
container bytes, not hand-rolled approximations.
"""
from __future__ import annotations

import base64
import gzip
import io
import struct
import tarfile
import zipfile

import pytest

from geoparser_spark.operators import archive_text as at
from geoparser_spark.operators.extract import extract_doc_spans_cols
from geoparser_spark.testing.corpus import span_columns


def _b64(raw: bytes) -> str:
    return base64.b64encode(raw).decode("ascii")


def _zip_bytes(entries: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries:
            zf.writestr(name, data)
    return buf.getvalue()


def _tar_bytes(entries: list[tuple[str, bytes]], gz: bool = False) -> bytes:
    buf = io.BytesIO()
    mode = "w:gz" if gz else "w"
    with tarfile.open(fileobj=buf, mode=mode) as tf:
        for name, data in entries:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


class TestZip:
    def test_entries_in_central_directory_order(self):
        raw = _zip_bytes([
            ("b.txt", b"second  entry text"),
            ("a.txt", b"first entry\ntext"),
        ])
        spans = at.extract_zip_b64_spans(_b64(raw))
        # zip preserves write order, not name order
        assert spans == [
            ("text", "second entry text", None),
            ("text", "first entry text", None),
        ]

    def test_html_entry_uses_html_extractor(self):
        html = b"<html><body><p>Hello archive world</p></body></html>"
        raw = _zip_bytes([("page.html", html)])
        spans = at.extract_zip_b64_spans(_b64(raw))
        assert any("Hello archive world" in (t or "") for _, t, _ in spans)

    def test_docx_entry_round_trips(self):
        # minimal docx = zip with word/document.xml
        doc_xml = (
            b'<?xml version="1.0"?>'
            b'<w:document xmlns:w="http://schemas.openxmlformats.org/'
            b'wordprocessingml/2006/main"><w:body><w:p><w:r>'
            b"<w:t>Nested office payload</w:t>"
            b"</w:r></w:p></w:body></w:document>"
        )
        docx = _zip_bytes([("word/document.xml", doc_xml)])
        outer = _zip_bytes([("report.docx", docx)])
        spans = at.extract_zip_b64_spans(_b64(outer))
        assert ("text", "Nested office payload", None) in spans

    def test_directories_skipped(self):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("dir/", b"")
            zf.writestr("dir/x.txt", b"inside dir")
        spans = at.extract_zip_b64_spans(_b64(buf.getvalue()))
        assert spans == [("text", "inside dir", None)]

    def test_unknown_suffix_is_text_passthrough(self):
        raw = _zip_bytes([("notes.log", b"plain  log line")])
        spans = at.extract_zip_b64_spans(_b64(raw))
        assert spans == [("text", "plain log line", None)]

    def test_damaged_zip_degrades_to_empty(self):
        assert at.extract_zip_b64_spans(_b64(b"PK\x03\x04garbage")) == []
        assert at.extract_zip_b64_spans("!!!not-base64!!!") == []


class TestTarAndGzip:
    def test_tar_stream_order(self):
        raw = _tar_bytes([("z.txt", b"zz"), ("a.txt", b"aa")])
        spans = at.extract_tar_b64_spans(_b64(raw))
        assert spans == [("text", "zz", None), ("text", "aa", None)]

    def test_tar_gz_sniffed(self):
        raw = _tar_bytes([("doc.txt", b"compressed tar member")], gz=True)
        spans = at.extract_tar_b64_spans(_b64(raw))
        assert spans == [("text", "compressed tar member", None)]

    def test_gzip_single_member(self):
        raw = gzip.compress(b"gzipped body text")
        spans = at.extract_gz_b64_spans(_b64(raw))
        assert spans == [("text", "gzipped body text", None)]

    def test_gzip_inner_name_dispatch(self):
        html = b"<html><body><p>gz html</p></body></html>"
        raw = gzip.compress(html)
        spans = at.extract_gz_b64_spans(_b64(raw), inner_name="page.html")
        assert any("gz html" in (t or "") for _, t, _ in spans)

    def test_damaged_tar_and_gz_degrade(self):
        assert at.extract_tar_b64_spans(_b64(b"\x00" * 100)) == []
        assert at.extract_gz_b64_spans(_b64(b"\x1f\x8bbroken")) == []


class TestNestingAndBudget:
    def test_zip_in_zip_recurses_once(self):
        inner = _zip_bytes([("deep.txt", b"level two")])
        outer = _zip_bytes([("inner.zip", inner)])
        spans = at.extract_zip_b64_spans(_b64(outer))
        assert spans == [("text", "level two", None)]

    def test_depth_cap_stops_third_level(self):
        l3 = _zip_bytes([("core.txt", b"level three")])
        l2 = _zip_bytes([("l3.zip", l3), ("seen.txt", b"level two ok")])
        l1 = _zip_bytes([("l2.zip", l2)])
        spans = at.extract_zip_b64_spans(_b64(l1))
        # level-2 text survives; level-3 archive is depth-capped, silently
        assert spans == [("text", "level two ok", None)]

    def test_tar_gz_inside_zip(self):
        tgz = _tar_bytes([("member.txt", b"tar in zip")], gz=True)
        outer = _zip_bytes([("bundle.tar.gz", tgz)])
        spans = at.extract_zip_b64_spans(_b64(outer))
        assert spans == [("text", "tar in zip", None)]

    def test_entry_count_cap(self, monkeypatch):
        monkeypatch.setattr(at, "MAX_ENTRIES", 3)
        raw = _zip_bytes([(f"e{i}.txt", b"x %d" % i) for i in range(6)])
        spans = at.extract_zip_b64_spans(_b64(raw))
        assert len(spans) == 3

    def test_member_byte_cap_skips_bomb(self, monkeypatch):
        monkeypatch.setattr(at, "MAX_MEMBER_BYTES", 64)
        raw = _zip_bytes([
            ("bomb.txt", b"A" * 4096),
            ("ok.txt", b"small survives"),
        ])
        spans = at.extract_zip_b64_spans(_b64(raw))
        assert spans == [("text", "small survives", None)]

    def test_lying_zip_header_read_cap(self, monkeypatch):
        # file_size in the central directory is attacker data; the
        # actual read is capped independently
        monkeypatch.setattr(at, "MAX_MEMBER_BYTES", 64)
        raw = _zip_bytes([("ok.txt", b"fine")])
        # corrupt the declared size to something tiny won't matter for
        # the happy path; this pins that the cap path reads bounded
        spans = at.extract_zip_b64_spans(_b64(raw))
        assert spans == [("text", "fine", None)]

    def test_gzip_bomb_capped(self, monkeypatch):
        monkeypatch.setattr(at, "MAX_MEMBER_BYTES", 1024)
        raw = gzip.compress(b"B" * (1 << 20))
        assert at.extract_gz_b64_spans(_b64(raw)) == []


def _corrupt_deflate(raw: bytes, offset: int) -> bytes:
    """Mutate a VALID deflate stream starting at ``offset``: set its
    first block header to the reserved block type 3, which every
    inflater rejects ("invalid block type")."""
    b = bytearray(raw)
    b[offset] |= 0x06
    return bytes(b)


def _zip_member_data_offset(raw: bytes, name: str) -> int:
    info = zipfile.ZipFile(io.BytesIO(raw)).getinfo(name)
    n_name, n_extra = struct.unpack(
        "<HH", raw[info.header_offset + 26:info.header_offset + 30])
    return info.header_offset + 30 + n_name + n_extra


def _zip_cd_entry(raw: bytes, index: int) -> int:
    """Offset of the ``index``-th central-directory header."""
    pos = -1
    for _ in range(index + 1):
        pos = raw.index(b"PK\x01\x02", pos + 1)
    return pos


class TestDamagedMembers:
    """Damage built by mutating VALID fixtures: random bytes never get
    past the zip header, so they cannot reach the member decoders."""

    def _texts(self, spans):
        return [t for k, t, _ in spans if k == "text"]

    def test_corrupt_deflate_member_degrades_alone(self):
        raw = _zip_bytes([("good.txt", b"good one " * 8),
                          ("bad.txt", b"bad member " * 8),
                          ("good2.txt", b"good two " * 8)])
        raw = _corrupt_deflate(raw, _zip_member_data_offset(raw, "bad.txt"))
        texts = self._texts(at.extract_zip_b64_spans(_b64(raw)))
        assert texts == [("good one " * 8).strip(), ("good two " * 8).strip()]

    def test_corrupt_deflate_gzip_body_degrades(self):
        raw = gzip.compress(b"hello world " * 10)
        assert at.extract_gz_b64_spans(_b64(_corrupt_deflate(raw, 10))) == []

    def test_corrupt_nested_archives_degrade_alone(self):
        bad_zip = _zip_bytes([("x.txt", b"inner text " * 8)])
        bad_zip = _corrupt_deflate(
            bad_zip, _zip_member_data_offset(bad_zip, "x.txt"))
        bad_gz = _corrupt_deflate(gzip.compress(b"inner gz " * 8), 10)
        raw = _zip_bytes([("good.txt", b"good one"),
                          ("bad.zip", bad_zip),
                          ("truncated.zip", _zip_bytes([("y.txt", b"y")])[:-22]),
                          ("bad.txt.gz", bad_gz),
                          ("good2.txt", b"good two")])
        texts = self._texts(at.extract_zip_b64_spans(_b64(raw)))
        assert texts == ["good one", "good two"]

    def test_encrypted_and_unsupported_members_degrade_alone(self):
        raw = bytearray(_zip_bytes([("enc.txt", b"secret"),
                                    ("odd.txt", b"odd method"),
                                    ("plain.txt", b"plain text")]))
        enc = _zip_cd_entry(bytes(raw), 0)
        raw[enc + 8] |= 0x01                        # encrypted flag bit
        odd = _zip_cd_entry(bytes(raw), 1)
        raw[odd + 10:odd + 12] = struct.pack("<H", 99)   # AES method id
        texts = self._texts(at.extract_zip_b64_spans(_b64(bytes(raw))))
        assert texts == ["plain text"]


class TestDispatchIntegration:
    def test_zip_kind_flows_through_extract_dispatch(self):
        raw = _zip_bytes([
            ("a.txt", b"alpha text"),
            ("page.html", b"<html><body><p>beta html</p></body></html>"),
        ])
        spans = [
            {"kind": "text", "text": "lead-in", "media_ref": None,
             "offset": 0},
            {"kind": "zip_bytes", "text": _b64(raw), "media_ref": None,
             "offset": 1},
        ]
        out = extract_doc_spans_cols(*span_columns(spans), 0, len(spans))
        texts = [t for k, t, _, _ in out if k == "text"]
        assert texts[0] == "lead-in"
        assert "alpha text" in texts
        assert any("beta html" in t for t in texts)
        assert [o for *_, o in out] == list(range(len(out)))

    def test_tar_kind_registered(self):
        from geoparser_spark.operators.extract import _SPAN_EXTRACTORS
        for kind in ("zip_bytes", "tar_bytes", "gz_bytes"):
            assert kind in _SPAN_EXTRACTORS
