"""Image byte-stream parsing: header metadata + embedded text, no codec.

Reference parity: GeoParser feeds uploaded images through Tika
(/root/reference/geoparser_app/views.py:125); Tika surfaces image
metadata (dimensions, format) and — with a Tesseract install — OCR
text, which then flows into geotagging like any other text.  This
module reproduces the metadata-and-embedded-text part from the public
container specs (PNG: RFC 2083 chunk layout; JPEG: ISO/IEC 10918-1
marker segments; GIF: GIF89a specification blocks) with pure stdlib
parsing — the pixel codec itself is NOT needed for any of it.

Span contract for an ``image_bytes`` input span (base64 payload):
  * one media span ("image", None, "img://{fmt}/{w}x{h}") carrying the
    parsed dimensions in the media_ref, then
  * one text span per embedded textual field, in byte order: PNG tEXt /
    uncompressed iTXt values, JPEG COM segments, GIF comment
    extensions.  This is the channel a production OCR stage would also
    write into (see :func:`ocr_image`).
Degrade contract: unrecognized or truncated payloads yield [] — never
an exception out of the extract stage.
"""

from __future__ import annotations

import base64
import binascii
import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG SOF markers carry frame dims; C4/C8/CC are DHT/JPG/DAC, not SOFs.
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def _norm(s: str) -> str:
    return " ".join(s.split())


def parse_png(raw: bytes) -> tuple[int, int, list[str]] | None:
    """PNG chunk walk: IHDR dims + tEXt / uncompressed-iTXt values."""
    if not raw.startswith(_PNG_SIG):
        return None
    w = h = None
    texts: list[str] = []
    i = len(_PNG_SIG)
    while i + 8 <= len(raw):
        (length,) = struct.unpack(">I", raw[i:i + 4])
        ctype = raw[i + 4:i + 8]
        data = raw[i + 8:i + 8 + length]
        if len(data) < length:
            break  # truncated chunk: keep what we have
        if ctype == b"IHDR" and length >= 8:
            w, h = struct.unpack(">II", data[:8])
        elif ctype == b"tEXt":
            _kw, _, val = data.partition(b"\x00")
            texts.append(val.decode("latin-1", "replace"))
        elif ctype == b"iTXt":
            _kw, _, rest = data.partition(b"\x00")
            if len(rest) >= 2 and rest[0] == 0:  # compression flag off
                after = rest[2:]
                _lang, _, after = after.partition(b"\x00")
                _translated, _, val = after.partition(b"\x00")
                texts.append(val.decode("utf-8", "replace"))
        elif ctype == b"IEND":
            break
        i += 12 + length  # length + type + data + CRC
    if w is None:
        return None
    return int(w), int(h), texts


def parse_jpeg(raw: bytes) -> tuple[int, int, list[str]] | None:
    """JPEG marker walk: first SOFn dims + EXIF ASCII fields + COM
    comment segments (the APP1 Exif body is captured during this same
    walk — no second pass over the stream)."""
    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        return None
    w = h = None
    exif_tiff = b""
    texts: list[str] = []
    i = 2
    n = len(raw)
    while i + 1 < n:
        if raw[i] != 0xFF:
            i += 1
            continue
        # skip fill bytes (spec allows runs of 0xFF before a marker)
        while i < n and raw[i] == 0xFF:
            i += 1
        if i >= n:
            break
        marker = raw[i]
        i += 1
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            if marker == 0xD9:  # EOI
                break
            continue  # standalone marker, no length field
        if i + 2 > n:
            break
        (seglen,) = struct.unpack(">H", raw[i:i + 2])
        seg = raw[i + 2:i + seglen]
        if marker == 0xFE:  # COM
            texts.append(seg.decode("utf-8", "replace"))
        elif (marker == 0xE1 and not exif_tiff
                and seg[:6] == b"Exif\x00\x00"):
            exif_tiff = seg[6:]
        elif marker in _JPEG_SOF and len(seg) >= 5:
            h, w = struct.unpack(">HH", seg[1:5])
        if marker == 0xDA:  # SOS: entropy-coded data follows, stop
            break
        i += seglen
    if w is None:
        return None
    # EXIF ASCII fields surface ahead of COM texts (APP1 precedes COM
    # in byte order; canonical field order within the segment)
    return int(w), int(h), exif_texts(raw, _tiff=exif_tiff) + texts


def parse_gif(raw: bytes) -> tuple[int, int, list[str]] | None:
    """GIF block walk: logical-screen dims + comment extensions."""
    if raw[:6] not in (b"GIF87a", b"GIF89a") or len(raw) < 13:
        return None
    w, h = struct.unpack("<HH", raw[6:10])
    flags = raw[10]
    i = 13
    if flags & 0x80:  # global color table present
        i += 3 * (2 << (flags & 0x07))
    texts: list[str] = []

    def skip_subblocks(j: int, collect: list[bytes] | None) -> int:
        while j < len(raw):
            blen = raw[j]
            j += 1
            if blen == 0:
                return j
            if collect is not None:
                collect.append(raw[j:j + blen])
            j += blen
        return j

    while i < len(raw):
        b = raw[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21 and i + 1 < len(raw):  # extension
            label = raw[i + 1]
            if label == 0xFE:  # comment extension
                parts: list[bytes] = []
                i = skip_subblocks(i + 2, parts)
                texts.append(b"".join(parts).decode("utf-8", "replace"))
            else:
                i = skip_subblocks(i + 2, None)
        elif b == 0x2C and i + 10 <= len(raw):  # image descriptor
            lflags = raw[i + 9]
            i += 10
            if lflags & 0x80:
                i += 3 * (2 << (lflags & 0x07))
            i += 1  # LZW minimum code size
            i = skip_subblocks(i, None)
        else:
            break  # unknown block: stop cleanly
    return int(w), int(h), texts


def parse_tiff(raw: bytes) -> tuple[int, int, list[str]] | None:
    """First-IFD dims + ASCII ImageDescription/Software text (TIFF 6.0
    tags 256/257/270/305) — header-only, no pixel decode (the pixel
    path is operators/tiff_codec; its _read_ifd is the single IFD
    walker for both)."""
    from geoparser_spark.operators.tiff_codec import TIFF_SIGS, _read_ifd

    if raw[:4] not in TIFF_SIGS:
        return None
    e = "<" if raw[:2] == b"II" else ">"
    try:
        tags, ascii_tags = _read_ifd(raw, e, with_ascii=True)
        w, h = tags[256][0], tags[257][0]
    except (ValueError, KeyError, IndexError):
        return None
    texts = []
    for tag in (270, 305):             # ImageDescription, Software
        vb = ascii_tags.get(tag)
        if vb:
            s = vb.split(b"\x00", 1)[0].decode("utf-8", "replace")
            if s:
                texts.append(s)
    return w, h, texts


def parse_bmp(raw: bytes) -> tuple[int, int, list[str]] | None:
    """BMP dims from the fixed BITMAPINFOHEADER offsets — header-only;
    BMP has no standard embedded-text channel, so texts is always
    empty."""
    if raw[:2] != b"BM" or len(raw) < 26:
        return None
    w, h = struct.unpack("<ii", raw[18:26])
    if w <= 0 or h == 0:
        return None
    return w, abs(h), []


def parse_webp(raw: bytes) -> tuple[int, int, list[str]] | None:
    """WebP dims from the RIFF container — header-only, no codec
    (VP8 entropy decode stays a documented seam): lossy 'VP8 ' frame
    tags (14-bit dims after the 9D 01 2A start code), lossless 'VP8L'
    (14-bit minus-one dims after the 2F signature byte), extended
    'VP8X' (24-bit minus-one canvas dims)."""
    if len(raw) < 20 or raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        return None
    pos = 12
    while pos + 8 <= len(raw):
        fourcc = raw[pos:pos + 4]
        (size,) = struct.unpack("<I", raw[pos + 4:pos + 8])
        body = raw[pos + 8:pos + 8 + size]
        if fourcc == b"VP8X" and len(body) >= 10:
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
            return w, h, []
        if fourcc == b"VP8 " and len(body) >= 10:
            if body[3:6] != b"\x9d\x01\x2a":
                return None
            w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
            h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
            return w, h, []
        if fourcc == b"VP8L" and len(body) >= 5:
            if body[0] != 0x2F:
                return None
            bits = int.from_bytes(body[1:5], "little")
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            return w, h, []
        pos += 8 + size + (size & 1)      # chunks pad to even
    return None


def make_mini_tiff(width: int, height: int, texts: list[str] = ()) -> bytes:
    """A complete, spec-valid grayscale TIFF with the first two ``texts``
    as ASCII ImageDescription (270) / Software (305) tags — the tags
    parse_tiff surfaces; ASCII TIFF text is commonly UTF-8 in practice
    and parse_tiff decodes it as such, so captions round-trip."""
    import numpy as _np

    from geoparser_spark.operators.tiff_codec import encode_tiff

    ascii_tags = {}
    for tag, t in zip((270, 305), texts):
        ascii_tags[tag] = t
    return encode_tiff(_np.zeros((height, width), dtype=_np.uint8),
                       ascii_tags=ascii_tags)


def parse_image_meta(raw: bytes) -> tuple[str, int, int, list[str]] | None:
    """(format, width, height, embedded texts) or None if unrecognized."""
    for fmt, parser in (("png", parse_png), ("jpeg", parse_jpeg),
                        ("gif", parse_gif), ("tiff", parse_tiff),
                        ("bmp", parse_bmp), ("webp", parse_webp)):
        try:
            got = parser(raw)
        except (struct.error, IndexError):
            got = None
        if got is not None:
            return (fmt, *got)
    return None


def extract_image_spans(raw: bytes) -> list[tuple[str, str | None, str | None]]:
    """Image bytes → extract-stage span triples (kind, text, media_ref)."""
    meta = parse_image_meta(raw)
    if meta is None:
        return []
    fmt, w, h, texts = meta
    out: list[tuple[str, str | None, str | None]] = [
        ("image", None, f"img://{fmt}/{w}x{h}")
    ]
    for t in texts:
        t = _norm(t)
        if t:
            out.append(("text", t, None))
    return out


def extract_image_b64_spans(b64: str) -> list[tuple[str, str | None, str | None]]:
    """Base64-wrapped variant — ``image_bytes`` span payloads carry the
    byte stream base64-encoded in ``text`` (FIXTURES.md §1)."""
    try:
        raw = base64.b64decode(b64, validate=False)
    except (binascii.Error, ValueError):
        return []
    return extract_image_spans(raw)


def ocr_image(raw: bytes) -> str:
    """Real OCR — NOT AVAILABLE in this container (no Tesseract).

    Raises NotImplementedError by design; a deployment wires Tesseract
    (as the reference's Tika does) here and appends the result as a
    text span next to the embedded-text spans above.  The batch
    plumbing that would carry its output is exactly the embedded-text
    path, which IS tested."""
    raise NotImplementedError("OCR engine not present in sandbox; see docstring")


# ---------------------------------------------------------------- fixtures

def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def make_mini_png(width: int, height: int, texts: list[str] = ()) -> bytes:
    """A complete, spec-valid grayscale PNG (real zlib IDAT, real CRCs)
    with one uncompressed iTXt chunk per entry in ``texts`` — iTXt is
    UTF-8 by spec, so any caption round-trips exactly (tEXt is latin-1
    and would silently corrupt wider characters to '?')."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    rows = b"".join(b"\x00" + bytes(width) for _ in range(height))
    out = [_PNG_SIG, _png_chunk(b"IHDR", ihdr)]
    for t in texts:
        out.append(_png_chunk(
            b"iTXt",
            b"Description\x00\x00\x00\x00\x00" + t.encode("utf-8")))
    out.append(_png_chunk(b"IDAT", zlib.compress(rows)))
    out.append(_png_chunk(b"IEND", b""))
    return b"".join(out)


def make_mini_jpeg(width: int, height: int, comments: list[str] = (),
                   gps: tuple | None = None,
                   app1: bytes | None = None) -> bytes:
    """Minimal JPEG header stream: SOI, JFIF APP0, COM per comment,
    SOF0 frame header, EOI.  Header-complete (dims + comments parse);
    carries no entropy-coded scan, which header consumers never read.
    A comment longer than the 65533-byte COM payload limit is split
    across consecutive COM segments (JPEG has no continuation marker,
    so each chunk surfaces as its own comment on parse — mirroring what
    any spec-conforming writer must do)."""
    _COM_MAX = 65533  # 2-byte segment length includes itself

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    app1 = app1 or b""
    if gps is not None:
        lat_dms, lon_dms, south, west = gps
        app1 = make_exif_gps_app1(lat_dms, lon_dms, south, west)
    coms = b"".join(
        seg(0xFE, enc[i:i + _COM_MAX])
        for c in comments
        for enc in (c.encode("utf-8"),)
        for i in (range(0, len(enc), _COM_MAX) if enc else (0,))
    )
    sof0 = seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00")
    return b"\xff\xd8" + app0 + app1 + coms + sof0 + b"\xff\xd9"


def make_mini_gif(width: int, height: int, comments: list[str] = ()) -> bytes:
    """Minimal GIF89a: header + LSD (no color table) + comment
    extensions + trailer."""
    out = [b"GIF89a", struct.pack("<HH", width, height), b"\x00\x00\x00"]
    for c in comments:
        data = c.encode("utf-8")
        sub = b"".join(
            bytes([len(data[i:i + 255])]) + data[i:i + 255]
            for i in range(0, len(data), 255)
        ) or b""
        out.append(b"\x21\xfe" + sub + b"\x00")
    out.append(b"\x3b")
    return b"".join(out)


def make_mini_bmp(width: int, height: int, top_down: bool = False) -> bytes:
    """Minimal uncompressed 24-bit BMP: BITMAPFILEHEADER +
    BITMAPINFOHEADER + zeroed rows padded to 4 bytes; ``top_down``
    stores the height negative, as top-down writers do."""
    stride = (3 * width + 3) & ~3
    pixels = bytes(stride * height)
    info = struct.pack("<IiiHHIIiiII", 40, width,
                       -height if top_down else height, 1, 24, 0,
                       len(pixels), 2835, 2835, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 14 + len(info) + len(pixels),
                       0, 0, 14 + len(info))
    return head + info + pixels


# ------------------------------------------------------------- EXIF GPS

def _exif_u16(b: bytes, i: int, e: str) -> int:
    return struct.unpack(e + "H", b[i:i + 2])[0]


def _exif_u32(b: bytes, i: int, e: str) -> int:
    return struct.unpack(e + "I", b[i:i + 4])[0]


def _exif_rational3(tiff: bytes, off: int, e: str) -> tuple[float, float, float]:
    vals = []
    for k in range(3):
        num = _exif_u32(tiff, off + 8 * k, e)
        den = _exif_u32(tiff, off + 8 * k + 4, e) or 1
        vals.append(num / den)
    return tuple(vals)


def parse_exif_gps(raw: bytes) -> tuple[float, float] | None:
    """JPEG EXIF GPS → (lat, lon) decimal degrees, or None.

    Walks APP1 'Exif\\0\\0' → TIFF header (II/MM endianness) → IFD0 →
    GPSInfo IFD pointer (tag 0x8825) → GPSLatitudeRef/GPSLatitude/
    GPSLongitudeRef/GPSLongitude (tags 1-4, D-M-S rationals), the
    standard EXIF 2.x layout Tika surfaces as geo metadata.  The
    reference geotags whatever Tika hands it; GPS-bearing photos are
    the one media type that carries ground truth directly.  Degrades to
    None on anything malformed."""
    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(raw)
    seg = None
    while i + 4 <= n:
        if raw[i] != 0xFF:
            break
        marker = raw[i + 1]
        if marker == 0xD9 or marker == 0xDA:
            break
        (seglen,) = struct.unpack(">H", raw[i + 2:i + 4])
        if marker == 0xE1 and raw[i + 4:i + 10] == b"Exif\x00\x00":
            seg = raw[i + 10:i + 2 + seglen]
            break
        i += 2 + seglen
    if seg is None:
        return None
    try:
        tiff = seg
        e = {"II": "<", "MM": ">"}.get(tiff[:2].decode("ascii", "replace"))
        if e is None or _exif_u16(tiff, 2, e) != 42:
            return None
        ifd0 = _exif_u32(tiff, 4, e)
        gps_off = None
        cnt = _exif_u16(tiff, ifd0, e)
        for k in range(cnt):
            ei = ifd0 + 2 + 12 * k
            if _exif_u16(tiff, ei, e) == 0x8825:
                gps_off = _exif_u32(tiff, ei + 8, e)
        if gps_off is None:
            return None
        lat = lon = None
        lat_sign = lon_sign = 1.0
        cnt = _exif_u16(tiff, gps_off, e)
        for k in range(cnt):
            ei = gps_off + 2 + 12 * k
            tag = _exif_u16(tiff, ei, e)
            val_off = ei + 8
            if tag == 1:  # GPSLatitudeRef, ASCII inline
                if tiff[val_off:val_off + 1] == b"S":
                    lat_sign = -1.0
            elif tag == 3:
                if tiff[val_off:val_off + 1] == b"W":
                    lon_sign = -1.0
            elif tag == 2:
                d, m, s = _exif_rational3(tiff, _exif_u32(tiff, val_off, e), e)
                lat = d + m / 60.0 + s / 3600.0
            elif tag == 4:
                d, m, s = _exif_rational3(tiff, _exif_u32(tiff, val_off, e), e)
                lon = d + m / 60.0 + s / 3600.0
        if lat is None or lon is None:
            return None
        return lat_sign * lat, lon_sign * lon
    except (struct.error, IndexError):
        return None


# canonical order in which EXIF ASCII values surface as texts (the
# Tika metadata fields a photo upload carries)
_EXIF_ASCII_IFD0 = ((0x010E, "description"), (0x010F, "make"),
                    (0x0110, "model"), (0x0131, "software"),
                    (0x013B, "artist"), (0x8298, "copyright"),
                    (0x0132, "datetime"))


def _find_exif_tiff(raw: bytes) -> bytes | None:
    """JPEG marker walk -> the first APP1 'Exif\\0\\0' TIFF body."""
    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        return None
    i, n = 2, len(raw)
    while i + 4 <= n:
        if raw[i] != 0xFF:
            break
        marker = raw[i + 1]
        if marker == 0xD9 or marker == 0xDA:
            break
        (seglen,) = struct.unpack(">H", raw[i + 2:i + 4])
        if marker == 0xE1 and raw[i + 4:i + 10] == b"Exif\x00\x00":
            return raw[i + 10:i + 2 + seglen]
        i += 2 + seglen
    return None


def _exif_ascii(tiff: bytes, ei: int, e: str) -> str | None:
    """One IFD entry -> decoded ASCII value, or None if not type 2."""
    typ = _exif_u16(tiff, ei + 2, e)
    cnt = _exif_u32(tiff, ei + 4, e)
    if typ != 2 or cnt == 0 or cnt > 4096:
        return None
    off = ei + 8 if cnt <= 4 else _exif_u32(tiff, ei + 8, e)
    b = tiff[off:off + cnt]
    if len(b) < cnt:
        return None
    t = b.split(b"\x00")[0].decode("utf-8", "replace").strip()
    return t or None


def parse_exif_tags(raw: bytes, _tiff: bytes | None = None) -> dict:
    """JPEG EXIF 2.x tag surface → dict (empty when absent/malformed).

    The non-GPS metadata Tika reports for every photo upload
    (reference: any image through Tika auto-detect,
    /root/reference/geoparser_app/views.py:125): IFD0's Orientation
    (0x0112, int 1-8), ImageDescription / Make / Model / Software /
    Artist / Copyright / DateTime (ASCII), and the Exif sub-IFD's
    DateTimeOriginal (0x9003).  Same degrade discipline as
    parse_exif_gps: anything malformed yields what parsed so far or
    {}.  ``_tiff`` lets a caller that already walked the markers hand
    in the APP1 body (b"" = known absent) and skip the second pass."""
    tiff = _tiff if _tiff is not None else _find_exif_tiff(raw)
    if not tiff:
        return {}
    out: dict = {}
    try:
        e = {"II": "<", "MM": ">"}.get(tiff[:2].decode("ascii", "replace"))
        if e is None or _exif_u16(tiff, 2, e) != 42:
            return {}
        ascii_of = dict(_EXIF_ASCII_IFD0)
        ifd0 = _exif_u32(tiff, 4, e)
        exif_ptr = None
        cnt = _exif_u16(tiff, ifd0, e)
        for k in range(cnt):
            ei = ifd0 + 2 + 12 * k
            tag = _exif_u16(tiff, ei, e)
            if tag == 0x0112 and _exif_u16(tiff, ei + 2, e) == 3:
                v = _exif_u16(tiff, ei + 8, e)
                if 1 <= v <= 8:
                    out["orientation"] = v
            elif tag == 0x8769:
                exif_ptr = _exif_u32(tiff, ei + 8, e)
            elif tag in ascii_of:
                v = _exif_ascii(tiff, ei, e)
                if v is not None:
                    out[ascii_of[tag]] = v
        if exif_ptr is not None:
            cnt = _exif_u16(tiff, exif_ptr, e)
            for k in range(cnt):
                ei = exif_ptr + 2 + 12 * k
                if _exif_u16(tiff, ei, e) == 0x9003:
                    v = _exif_ascii(tiff, ei, e)
                    if v is not None:
                        out["datetime_original"] = v
    except (struct.error, IndexError):
        pass
    return out


def exif_texts(raw: bytes, _tiff: bytes | None = None) -> list[str]:
    """EXIF ASCII values in canonical field order — the text-span
    channel of the photo-metadata surface."""
    tags = parse_exif_tags(raw, _tiff=_tiff)
    order = [key for _, key in _EXIF_ASCII_IFD0] + ["datetime_original"]
    return [tags[k] for k in order if k in tags]


def make_exif_tags_app1(fields: dict, orientation: int | None = None,
                        datetime_original: str | None = None) -> bytes:
    """Spec-shaped APP1 segment: Exif TIFF (big-endian) IFD0 with the
    given ASCII fields (keys from _EXIF_ASCII_IFD0 values), optional
    Orientation SHORT, and — when datetime_original is given — an Exif
    sub-IFD carrying DateTimeOriginal."""
    name_to_tag = {name: tag for tag, name in _EXIF_ASCII_IFD0}
    entries = []                           # (tag, typ, cnt, inline|bytes)
    extra_vals = []
    for name, value in fields.items():
        enc = value.encode("utf-8") + b"\x00"
        entries.append((name_to_tag[name], 2, len(enc), enc))
    if orientation is not None:
        entries.append((0x0112, 3, 1,
                        struct.pack(">HH", orientation, 0)))
    sub = b""
    if datetime_original is not None:
        enc = datetime_original.encode("utf-8") + b"\x00"
        sub_entries = [(0x9003, 2, len(enc), enc)]
        entries.append((0x8769, 4, 1, None))   # pointer patched below
    n = len(entries)
    ifd0_off = 8
    extra_base = ifd0_off + 2 + 12 * n + 4
    extra = bytearray()
    body = bytearray(struct.pack(">H", n))
    for tag, typ, cnt, payload in sorted(entries):
        body += struct.pack(">HHI", tag, typ, cnt)
        if tag == 0x8769:
            # the Exif sub-IFD lands after the ASCII extra area
            body += b"\x00\x00\x00\x00"    # patched below
        elif payload is not None and len(payload) <= 4:
            body += payload.ljust(4, b"\x00")
        else:
            body += struct.pack(">I", extra_base + len(extra))
            extra += payload
    body += struct.pack(">I", 0)
    if datetime_original is not None:
        sub_off = extra_base + len(extra)
        # patch the 0x8769 pointer (find its entry in the sorted IFD)
        for k in range(n):
            at = 2 + 12 * k
            if struct.unpack(">H", body[at:at + 2])[0] == 0x8769:
                body[at + 8:at + 12] = struct.pack(">I", sub_off)
        tag, typ, cnt, enc = sub_entries[0]
        sub = bytearray(struct.pack(">H", 1))
        val_off = sub_off + 2 + 12 + 4
        sub += struct.pack(">HHII", tag, typ, cnt, val_off)
        sub += struct.pack(">I", 0)
        sub += enc
    tiff = (b"MM\x00\x2a" + struct.pack(">I", ifd0_off)
            + bytes(body) + bytes(extra) + bytes(sub))
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def make_exif_gps_app1(lat_dms: tuple[int, int, float],
                       lon_dms: tuple[int, int, float],
                       south: bool = False, west: bool = False) -> bytes:
    """Spec-shaped APP1 segment: Exif TIFF (big-endian) with an IFD0
    holding only the GPSInfo pointer and a GPS IFD with D-M-S
    rationals (seconds at denominator 10000)."""
    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack(">HHII", tag, typ, count, value)

    def ascii_inline(tag: int, ch: bytes) -> bytes:
        return struct.pack(">HHI4s", tag, 2, 2, ch + b"\x00\x00\x00")

    def rat3(dms: tuple[int, int, float]) -> bytes:
        d, m, s = dms
        return struct.pack(">IIIIII", d, 1, m, 1, round(s * 10000), 10000)

    # layout: TIFF header (8) | IFD0 (2 + 12 + 4) | GPS IFD
    ifd0_off = 8
    gps_off = ifd0_off + 2 + 12 + 4
    # GPS IFD: 4 entries + next ptr, then two rational blocks
    lat_val_off = gps_off + 2 + 4 * 12 + 4
    lon_val_off = lat_val_off + 24
    tiff = (
        b"MM\x00\x2a" + struct.pack(">I", ifd0_off)
        + struct.pack(">H", 1) + entry(0x8825, 4, 1, gps_off)
        + struct.pack(">I", 0)
        + struct.pack(">H", 4)
        + ascii_inline(1, b"S" if south else b"N")
        + entry(2, 5, 3, lat_val_off)
        + ascii_inline(3, b"W" if west else b"E")
        + entry(4, 5, 3, lon_val_off)
        + struct.pack(">I", 0)
        + rat3(lat_dms) + rat3(lon_dms)
    )
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
