"""Archive container extraction: zip / tar(.gz) / gzip member recursion.

The reference feeds every upload through Tika's AutoDetectParser, whose
RecursiveParserWrapper unpacks archive containers and runs detection on
each entry (GeoParser hands the bytes to Tika at
/root/reference/geoparser_app/views.py:125 and indexes whatever text
comes back).  This module is the Spark-side equivalent: an archive
payload becomes an ordered span stream by walking its entries in
container order and dispatching each entry — by filename suffix — into
the SAME leaf extractors the top-level dispatch table uses, so a
`.docx` inside a `.zip` produces exactly the spans it would produce as
a standalone document.

Contracts (shared with every extractor in this package):
  * damaged input degrades to ``[]`` — never an exception;
  * deterministic: entries are walked in the container's own order
    (zip central-directory order, tar stream order), which is part of
    the file's bytes, never filesystem or hash order;
  * bomb-guarded: per-member and total decompressed-byte caps, an
    entry-count cap, and a nesting-depth cap (an archive inside an
    archive recurses once; deeper nesting degrades to nothing for the
    inner payload, not an error).

Everything here is stdlib (zipfile/tarfile/gzip over BytesIO) + the
package's own leaf extractors; it runs inside the Arrow-batched
extract kernel, so per-payload Python is the job, not overhead.
"""
from __future__ import annotations

import base64
import gzip
import io
import tarfile
import zipfile
import zlib
from struct import error as struct_error

from geoparser_spark.operators.html_main import extract_html_blocks
from geoparser_spark.operators.biff_legacy import (
    extract_ppt_b64_text_blocks,
    extract_xls_b64_text_blocks,
)
from geoparser_spark.operators.doc_legacy import extract_doc_b64_text_blocks
from geoparser_spark.operators.email_text import extract_eml_text_blocks
from geoparser_spark.operators.office_text import (
    extract_docx_b64_text_blocks,
    extract_epub_b64_text_blocks,
    extract_odt_b64_text_blocks,
    extract_pptx_b64_text_blocks,
    extract_rtf_text_blocks,
    extract_xlsx_b64_text_blocks,
)
from geoparser_spark.operators.csv_text import extract_csv_text_blocks
from geoparser_spark.operators.markdown_text import extract_markdown_spans
from geoparser_spark.operators.audio_meta import extract_audio_b64_spans
from geoparser_spark.operators.video_meta import extract_video_b64_spans
from geoparser_spark.operators.image_meta import extract_image_b64_spans
from geoparser_spark.operators.pdf_text import extract_pdf_b64_spans
from geoparser_spark.operators.xml_text import extract_xml_text_blocks

#: guards — sized so a hostile archive cannot blow an Arrow task's heap
MAX_ENTRIES = 512          # entries walked per archive (incl. nested)
MAX_MEMBER_BYTES = 32 << 20   # one decompressed member
MAX_TOTAL_BYTES = 128 << 20   # sum of decompressed members per payload
MAX_DEPTH = 2              # archive-in-archive recurses once

#: what damaged container bytes raise out of zipfile/tarfile/gzip: bad
#: headers and truncation, corrupt deflate data (zlib.error), and the
#: zip entries the stdlib cannot read — encrypted (RuntimeError) or an
#: unsupported compression method (its subclass NotImplementedError)
_ARCHIVE_ERRORS = (zipfile.BadZipFile, tarfile.TarError, gzip.BadGzipFile,
                   EOFError, OSError, ValueError, KeyError, struct_error,
                   zlib.error, RuntimeError)


def _norm(s: str) -> str:
    return " ".join(s.split())


def _txt_spans(text: bytes) -> list[tuple]:
    t = _norm(text.decode("utf-8", errors="replace"))
    return [("text", t, None)] if t else []


def _b64(raw: bytes) -> str:
    return base64.b64encode(raw).decode("ascii")


def _wrap_blocks_str(fn):
    def run(raw: bytes) -> list[tuple]:
        s = raw.decode("utf-8", errors="replace")
        return [("text", b, None) for b in fn(s)]
    return run


def _wrap_spans_str(fn):
    def run(raw: bytes) -> list[tuple]:
        return list(fn(raw.decode("utf-8", errors="replace")))
    return run


def _wrap_blocks_b64(fn):
    def run(raw: bytes) -> list[tuple]:
        return [("text", b, None) for b in fn(_b64(raw))]
    return run


def _wrap_spans_b64(fn):
    def run(raw: bytes) -> list[tuple]:
        return list(fn(_b64(raw)))
    return run


# Entry-name suffix → leaf extractor over the entry's raw bytes.  This
# mirrors extract._SPAN_EXTRACTORS (the Tika auto-detect role) at the
# archive-member level; suffixes are matched case-insensitively and
# longest-first so ``.tar.gz`` beats ``.gz``.
_ENTRY_EXTRACTORS: dict = {
    ".html": _wrap_spans_str(extract_html_blocks),
    ".htm": _wrap_spans_str(extract_html_blocks),
    ".md": _wrap_spans_str(extract_markdown_spans),
    ".markdown": _wrap_spans_str(extract_markdown_spans),
    ".xml": _wrap_blocks_str(extract_xml_text_blocks),
    ".csv": _wrap_blocks_str(extract_csv_text_blocks),
    ".rtf": _wrap_blocks_str(extract_rtf_text_blocks),
    ".eml": _wrap_blocks_str(extract_eml_text_blocks),
    ".txt": _txt_spans,
    ".text": _txt_spans,
    ".pdf": _wrap_spans_b64(extract_pdf_b64_spans),
    ".docx": _wrap_blocks_b64(extract_docx_b64_text_blocks),
    ".doc": _wrap_blocks_b64(extract_doc_b64_text_blocks),
    ".pptx": _wrap_blocks_b64(extract_pptx_b64_text_blocks),
    ".ppt": _wrap_blocks_b64(extract_ppt_b64_text_blocks),
    ".xlsx": _wrap_blocks_b64(extract_xlsx_b64_text_blocks),
    ".xls": _wrap_blocks_b64(extract_xls_b64_text_blocks),
    ".epub": _wrap_blocks_b64(extract_epub_b64_text_blocks),
    ".odt": _wrap_blocks_b64(extract_odt_b64_text_blocks),
    ".png": _wrap_spans_b64(extract_image_b64_spans),
    ".gif": _wrap_spans_b64(extract_image_b64_spans),
    ".jpg": _wrap_spans_b64(extract_image_b64_spans),
    ".jpeg": _wrap_spans_b64(extract_image_b64_spans),
    ".bmp": _wrap_spans_b64(extract_image_b64_spans),
    ".tif": _wrap_spans_b64(extract_image_b64_spans),
    ".tiff": _wrap_spans_b64(extract_image_b64_spans),
    ".wav": _wrap_spans_b64(extract_audio_b64_spans),
    ".flac": _wrap_spans_b64(extract_audio_b64_spans),
    ".mp3": _wrap_spans_b64(extract_audio_b64_spans),
    ".mp4": _wrap_spans_b64(extract_video_b64_spans),
    ".m4v": _wrap_spans_b64(extract_video_b64_spans),
    ".mov": _wrap_spans_b64(extract_video_b64_spans),
}


class _Budget:
    """Mutable walk budget shared across nesting levels."""

    __slots__ = ("entries", "out_bytes")

    def __init__(self) -> None:
        self.entries = 0
        self.out_bytes = 0

    def admit(self, n_bytes: int) -> bool:
        if self.entries >= MAX_ENTRIES:
            return False
        if n_bytes > MAX_MEMBER_BYTES:
            return False
        if self.out_bytes + n_bytes > MAX_TOTAL_BYTES:
            return False
        self.entries += 1
        self.out_bytes += n_bytes
        return True


def _entry_spans(name: str, raw: bytes, depth: int,
                 budget: _Budget) -> list[tuple]:
    low = name.lower().rstrip("/")
    base = low.rsplit("/", 1)[-1]
    # nested archives first, longest-suffix wins (.tar.gz over .gz)
    if low.endswith((".zip", ".tar", ".tgz", ".gz")):
        if depth + 1 >= MAX_DEPTH:  # depth = current archive's level
            return []
        try:
            if low.endswith(".zip"):
                return _zip_spans(raw, depth + 1, budget)
            if low.endswith((".tar", ".tgz", ".tar.gz")):
                return _tar_spans(raw, depth + 1, budget)
            return _gzip_spans(raw, low[:-3], depth + 1, budget)
        except _ARCHIVE_ERRORS:
            # a damaged nested archive degrades alone, like a leaf entry
            return []
    dot = base.rfind(".")
    fn = _ENTRY_EXTRACTORS.get(base[dot:]) if dot >= 0 else _txt_spans
    if fn is None:
        # unknown suffix: conservative text passthrough, like the
        # top-level dispatch's unknown-kind branch (extract.py)
        fn = _txt_spans
    try:
        return fn(raw)
    except Exception:
        # a leaf extractor's own contract is degrade-to-[], but a
        # mislabeled entry (e.g. binary named .txt hitting a decoder
        # edge) must not kill the whole archive walk
        return []


def _zip_spans(raw: bytes, depth: int, budget: _Budget) -> list[tuple]:
    out: list[tuple] = []
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        for info in zf.infolist():  # central-directory order
            if info.is_dir():
                continue
            if not budget.admit(info.file_size):
                continue
            try:
                with zf.open(info) as f:
                    # cap the actual read too — file_size is attacker data
                    member = f.read(MAX_MEMBER_BYTES + 1)
            except _ARCHIVE_ERRORS:
                # the central directory still indexes the other members:
                # a damaged, encrypted or unsupported one degrades alone
                continue
            if len(member) > MAX_MEMBER_BYTES:
                continue
            out.extend(_entry_spans(info.filename, member, depth, budget))
    return out


def _tar_spans(raw: bytes, depth: int, budget: _Budget) -> list[tuple]:
    out: list[tuple] = []
    with tarfile.open(fileobj=io.BytesIO(raw), mode="r:*") as tf:
        for member in tf:  # stream order
            if not member.isfile():
                continue
            if not budget.admit(member.size):
                continue
            f = tf.extractfile(member)
            if f is None:
                continue
            data = f.read(MAX_MEMBER_BYTES + 1)
            if len(data) > MAX_MEMBER_BYTES:
                continue
            out.extend(_entry_spans(member.name, data, depth, budget))
    return out


def _gzip_spans(raw: bytes, inner_name: str, depth: int,
                budget: _Budget) -> list[tuple]:
    # bounded decompress: a .gz bomb stops at the member cap
    with gzip.GzipFile(fileobj=io.BytesIO(raw)) as gf:
        data = gf.read(MAX_MEMBER_BYTES + 1)
    if len(data) > MAX_MEMBER_BYTES or not budget.admit(len(data)):
        return []
    return _entry_spans(inner_name or "member.txt", data, depth, budget)


def _run_archive(fn, raw: bytes) -> list[tuple]:
    try:
        return fn(raw, 0, _Budget())
    except _ARCHIVE_ERRORS:
        return []


def extract_zip_b64_spans(b64: str) -> list[tuple]:
    """ZIP container → ordered spans of its extracted entries."""
    try:
        raw = base64.b64decode(b64, validate=False)
    except (ValueError, TypeError):
        return []
    return _run_archive(_zip_spans, raw)


def extract_tar_b64_spans(b64: str) -> list[tuple]:
    """tar / tar.gz container → ordered spans (mode ``r:*`` sniffs)."""
    try:
        raw = base64.b64decode(b64, validate=False)
    except (ValueError, TypeError):
        return []
    return _run_archive(_tar_spans, raw)


def extract_gz_b64_spans(b64: str, inner_name: str = "member.txt") -> list[tuple]:
    """Single-member gzip → spans of the decompressed member.

    gzip carries no index; the member is dispatched by ``inner_name``
    (callers that know the original name pass it; default is text).
    A gzipped tar should arrive as kind ``tar_bytes`` instead — the
    tar opener sniffs compression itself.
    """
    try:
        raw = base64.b64decode(b64, validate=False)
    except (ValueError, TypeError):
        return []
    return _run_archive(
        lambda r, d, b: _gzip_spans(r, inner_name, d, b), raw)
