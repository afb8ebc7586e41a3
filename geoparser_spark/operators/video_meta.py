"""Video byte-stream parsing: MP4 container metadata + embedded text,
no codec.

Reference parity: GeoParser routes any upload through Tika auto-detect
(/root/reference/geoparser_app/views.py:125); for MP4 Tika surfaces
container metadata (duration, frame size, brand) and iTunes-style tags,
which index like any document field.  This module reproduces that
surface from the public ISO/IEC 14496-12 (ISO BMFF) box structure with
pure stdlib parsing — the video codec itself is never touched (no
frame decode).

Parsed subset:
  * ``ftyp``              — major brand (e.g. isom, mp42)
  * ``moov/mvhd``         — timescale + duration (v0 and v1 layouts)
  * ``moov/trak/tkhd``    — first video track's width x height
    (16.16 fixed point), vetted against the track's ``hdlr`` handler
  * ``moov/udta/meta/ilst`` — ©nam/©cmt/desc UTF-8 ``data`` atoms,
    the text channel a production captioning stage would extend

Span contract for a ``video_bytes`` input span (base64 payload):
  * one media span ("video", None, "vid://{brand}/{w}x{h}/{ms}ms"), then
  * one text span per embedded tag value, in byte order.
Degrade contract: unrecognized/truncated payloads yield [] — never an
exception out of the extract stage.
"""

from __future__ import annotations

import base64
import binascii
import struct

_TAG_IDS = (b"\xa9nam", b"\xa9cmt", b"desc")


def _norm(s: str) -> str:
    return " ".join(s.split())


def _boxes(raw: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for the boxes in [start, end).
    Bounds-checked; malformed sizes end the walk instead of raising."""
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", raw[i:i + 4])
        btype = raw[i + 4:i + 8]
        header = 8
        if size == 1:
            if i + 16 > end:
                return
            (size,) = struct.unpack(">Q", raw[i + 8:i + 16])
            header = 16
        elif size == 0:
            size = end - i
        if size < header or i + size > end:
            return
        yield btype, i + header, i + size
        i += size


def _find(raw: bytes, start: int, end: int, btype: bytes):
    for t, s, e in _boxes(raw, start, end):
        if t == btype:
            return s, e
    return None


def _mvhd(raw: bytes, s: int, e: int) -> int | None:
    """Movie duration in ms (timescale-scaled, floor)."""
    if e - s < 4:
        return None
    version = raw[s]
    if version == 0 and e - s >= 20:
        timescale, duration = struct.unpack(">II", raw[s + 12:s + 20])
    elif version == 1 and e - s >= 32:
        # v1 body: version/flags(4) created(8) modified(8) timescale(4)
        # duration(8) — anything shorter is TRUNCATED, not duration-0
        (timescale,) = struct.unpack(">I", raw[s + 20:s + 24])
        (duration,) = struct.unpack(">Q", raw[s + 24:s + 32])
    else:
        return None
    if not timescale:
        return None
    return duration * 1000 // timescale


def _tkhd_dims(raw: bytes, s: int, e: int) -> tuple[int, int] | None:
    """(width, height) from the 16.16 fixed-point fields at the end of
    tkhd.  Spec layout after version/flags(4): v0 has
    created(4) modified(4) track_id(4) reserved(4) duration(4)
    reserved(8) layer(2) alternate(2) volume(2) reserved(2) matrix(36)
    = 72 bytes (v1 widens the three time fields to 8 → 84), so width
    sits at body offset 76 (v0) / 88 (v1)."""
    version = raw[s] if e > s else None
    if version not in (0, 1):
        return None
    w_off = s + (76 if version == 0 else 88)
    if e - w_off < 8:
        return None
    w, h = struct.unpack(">II", raw[w_off:w_off + 8])
    return w >> 16, h >> 16


def _track_is_video(raw: bytes, s: int, e: int) -> bool:
    mdia = _find(raw, s, e, b"mdia")
    if not mdia:
        return False
    hdlr = _find(raw, mdia[0], mdia[1], b"hdlr")
    if not hdlr or hdlr[1] - hdlr[0] < 12:
        return False
    return raw[hdlr[0] + 8:hdlr[0] + 12] == b"vide"


def _ilst_texts(raw: bytes, s: int, e: int) -> list[str]:
    """©nam/©cmt/desc UTF-8 'data' atom values, byte order."""
    texts: list[str] = []
    for t, bs, be in _boxes(raw, s, e):
        if t not in _TAG_IDS:
            continue
        data = _find(raw, bs, be, b"data")
        if not data or data[1] - data[0] < 8:
            continue
        (flags,) = struct.unpack(">I", raw[data[0]:data[0] + 4])
        if flags & 0xFFFFFF != 1:  # type 1 = UTF-8
            continue
        txt = _norm(raw[data[0] + 8:data[1]].decode("utf-8", "replace"))
        if txt:
            texts.append(txt)
    return texts


def parse_mp4(raw: bytes) -> tuple[str, int, int, int, list[str]] | None:
    """(brand, width, height, duration_ms, texts) or None.  Width and
    height are 0 when no video track declares dimensions (audio-only
    MP4s are valid)."""
    ftyp = _find(raw, 0, len(raw), b"ftyp")
    if not ftyp or ftyp[1] - ftyp[0] < 4:
        return None
    brand = raw[ftyp[0]:ftyp[0] + 4].decode("ascii", "replace").strip()
    moov = _find(raw, 0, len(raw), b"moov")
    if not moov:
        return None
    mvhd = _find(raw, moov[0], moov[1], b"mvhd")
    ms = _mvhd(raw, *mvhd) if mvhd else None
    if ms is None:
        return None
    w = h = 0
    for t, s, e in _boxes(raw, moov[0], moov[1]):
        if t == b"trak" and _track_is_video(raw, s, e):
            tkhd = _find(raw, s, e, b"tkhd")
            dims = _tkhd_dims(raw, *tkhd) if tkhd else None
            if dims:
                w, h = dims
                break
    texts: list[str] = []
    udta = _find(raw, moov[0], moov[1], b"udta")
    if udta:
        meta = _find(raw, udta[0], udta[1], b"meta")
        if meta:
            # meta is a FULL box: 4 bytes version/flags before children
            ilst = _find(raw, meta[0] + 4, meta[1], b"ilst")
            if ilst:
                texts = _ilst_texts(raw, *ilst)
    return brand, w, h, ms, texts


def extract_video_spans(raw: bytes) -> list[tuple[str, str | None, str | None]]:
    parsed = parse_mp4(raw)
    if parsed is None:
        return []
    brand, w, h, ms, texts = parsed
    out = [("video", None, f"vid://{brand}/{w}x{h}/{ms}ms")]
    out += [("text", t, None) for t in texts]
    return out


def extract_video_b64_spans(b64: str) -> list[tuple[str, str | None, str | None]]:
    """Base64-wrapped variant — ``video_bytes`` span payloads carry the
    byte stream base64-encoded in ``text`` (FIXTURES.md §1)."""
    try:
        raw = base64.b64decode(b64, validate=False)
    except (binascii.Error, ValueError):
        return []
    return extract_video_spans(raw)


# ---------------------------------------------------------------- fixtures


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _ftyp_box(brand: str = "isom") -> bytes:
    return _box(b"ftyp", brand.encode("ascii") + b"\x00\x00\x02\x00"
                + brand.encode("ascii"))


def _mvhd_box(timescale: int, duration: int) -> bytes:
    return _box(b"mvhd", b"\x00\x00\x00\x00"          # version/flags
                + struct.pack(">II", 0, 0)             # created/modified
                + struct.pack(">II", timescale, duration)
                + b"\x00" * 80)                        # rate..next_track


def _tkhd_box(width: int, height: int) -> bytes:
    # v0 body: version/flags(4) + 72 bytes of fields+matrix, then
    # width/height as 16.16 fixed point (spec offsets, see parser)
    return _box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
                + struct.pack(">II", width << 16, height << 16))


def _hdlr_vide_box() -> bytes:
    return _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)


def make_mini_mp4(width: int = 0, height: int = 0,
                  duration_ms: int = 0, timescale: int = 1000,
                  brand: str = "isom", titles: list[str] = ()) -> bytes:
    """Deterministic minimal MP4: ftyp + moov(mvhd [+ video trak]
    [+ udta/meta/ilst tags]).  No mdat — metadata-only, which is all
    the parser (and Tika's metadata surface) reads."""
    ftyp = _ftyp_box(brand)
    mvhd = _mvhd_box(timescale, duration_ms * timescale // 1000)
    children = mvhd
    if width or height:
        mdia = _box(b"mdia", _hdlr_vide_box())
        children += _box(b"trak", _tkhd_box(width, height) + mdia)
    if titles:
        items = b"".join(
            _box(b"\xa9nam", _box(b"data", b"\x00\x00\x00\x01"
                                  + b"\x00" * 4 + t.encode("utf-8")))
            for t in titles
        )
        meta = _box(b"meta", b"\x00\x00\x00\x00" + _box(b"ilst", items))
        children += _box(b"udta", meta)
    return ftyp + _box(b"moov", children)


# ------------------------------------------------------- sample tables
# The metadata walk above needs no codec; the SAMPLE TABLE decodes with
# pure struct — the real frame-FETCH plan (byte range + timestamp +
# sync flag per sample) a distributed video pipeline computes before
# any codec touches bytes.  The H.264/VP9 frame decode itself stays
# the documented seam.

_MAX_TABLE = 1_000_000   # bomb guard: entries per sample-table box


def _full_box_u32s(raw: bytes, s: int, e: int, skip: int = 4):
    """FULL box body -> (count, entries_start) with bounds checks."""
    if e - s < skip + 4:
        raise ValueError("sample-table box truncated")
    (count,) = struct.unpack(">I", raw[s + skip:s + skip + 4])
    if count > _MAX_TABLE:
        raise ValueError("sample-table entry count out of range")
    return count, s + skip + 4


def _mdhd_timescale(raw: bytes, s: int, e: int) -> int | None:
    if e - s < 4:
        return None
    version = raw[s]
    if version == 0 and e - s >= 16:
        (ts,) = struct.unpack(">I", raw[s + 12:s + 16])
    elif version == 1 and e - s >= 24:
        (ts,) = struct.unpack(">I", raw[s + 20:s + 24])
    else:
        return None
    return ts or None


def parse_sample_table(raw: bytes):
    """MP4 bytes -> first VIDEO track's per-sample fetch plan:
    [(sample_idx, dts_ms, byte_offset, byte_size, is_sync), ...] from
    the stbl boxes — stsz sizes (fixed or per-sample), stts decoding
    timestamps (run-length deltas at the mdhd timescale), stsc
    sample-to-chunk runs, stco/co64 chunk offsets, stss sync samples
    (absent table = every sample is sync, per ISO 14496-12).
    Raises ValueError on missing/inconsistent tables (degrade
    contract) — the tables describe byte ranges in the SAME stream, so
    a plan row can be fetched with a ranged read and no codec."""
    moov = _find(raw, 0, len(raw), b"moov")
    if not moov:
        raise ValueError("no moov box")
    for t, s, e in _boxes(raw, moov[0], moov[1]):
        if t != b"trak" or not _track_is_video(raw, s, e):
            continue
        # _track_is_video found mdia+hdlr, so mdia is always present
        mdia = _find(raw, s, e, b"mdia")
        mdhd = _find(raw, mdia[0], mdia[1], b"mdhd")
        timescale = _mdhd_timescale(raw, *mdhd) if mdhd else None
        if not timescale:
            raise ValueError("missing/invalid mdhd timescale")
        minf = _find(raw, mdia[0], mdia[1], b"minf")
        stbl = _find(raw, minf[0], minf[1], b"stbl") if minf else None
        if not stbl:
            raise ValueError("video trak missing stbl")
        return _decode_stbl(raw, stbl[0], stbl[1], timescale, len(raw))
    raise ValueError("no video track")


def _decode_stbl(raw: bytes, s: int, e: int, timescale: int,
                 stream_len: int):
    stsz = _find(raw, s, e, b"stsz")
    stts = _find(raw, s, e, b"stts")
    stsc = _find(raw, s, e, b"stsc")
    stco = _find(raw, s, e, b"stco")
    co64 = _find(raw, s, e, b"co64")
    if not (stsz and stts and stsc and (stco or co64)):
        raise ValueError("stbl missing a required sample table")

    # stsz: version/flags(4) sample_size(4) count(4) [sizes...]
    if stsz[1] - stsz[0] < 12:
        raise ValueError("stsz truncated")
    (fixed_size,) = struct.unpack(">I", raw[stsz[0] + 4:stsz[0] + 8])
    (n_samples,) = struct.unpack(">I", raw[stsz[0] + 8:stsz[0] + 12])
    if n_samples > _MAX_TABLE:
        raise ValueError("sample count out of range")
    if fixed_size:
        sizes = [fixed_size] * n_samples
    else:
        if stsz[1] - (stsz[0] + 12) < 4 * n_samples:
            raise ValueError("stsz size table truncated")
        sizes = list(struct.unpack(
            f">{n_samples}I", raw[stsz[0] + 12:stsz[0] + 12 + 4 * n_samples]))

    # stts: run-length (count, delta) pairs -> per-sample dts; the
    # run total must equal the stsz sample count exactly (14496-12) —
    # over- OR under-coverage is an inconsistent table, not a clamp
    cnt, p = _full_box_u32s(raw, *stts)
    if stts[1] - p < 8 * cnt:
        raise ValueError("stts truncated")
    dts_units: list[int] = []
    t_acc = 0
    for k in range(cnt):
        n_run, delta = struct.unpack(">II", raw[p + 8 * k:p + 8 * k + 8])
        if len(dts_units) + n_run > n_samples:
            raise ValueError("stts covers more samples than stsz")
        for _ in range(n_run):
            dts_units.append(t_acc)
            t_acc += delta
    if len(dts_units) < n_samples:
        raise ValueError("stts covers fewer samples than stsz")

    # stsc: (first_chunk, samples_per_chunk, desc) runs
    cnt, p = _full_box_u32s(raw, *stsc)
    if stsc[1] - p < 12 * cnt:
        raise ValueError("stsc truncated")
    stsc_runs = [struct.unpack(">III", raw[p + 12 * k:p + 12 * k + 12])
                 for k in range(cnt)]
    if not stsc_runs or stsc_runs[0][0] != 1:
        raise ValueError("stsc must start at chunk 1")

    # stco/co64: chunk offsets
    if stco:
        cnt, p = _full_box_u32s(raw, *stco)
        if stco[1] - p < 4 * cnt:
            raise ValueError("stco truncated")
        chunk_offs = list(struct.unpack(f">{cnt}I", raw[p:p + 4 * cnt]))
    else:
        cnt, p = _full_box_u32s(raw, *co64)
        if co64[1] - p < 8 * cnt:
            raise ValueError("co64 truncated")
        chunk_offs = list(struct.unpack(f">{cnt}Q", raw[p:p + 8 * cnt]))

    # stss: 1-based sync sample numbers; absent -> all sync
    stss = _find(raw, s, e, b"stss")
    if stss:
        cnt, p = _full_box_u32s(raw, *stss)
        if stss[1] - p < 4 * cnt:
            raise ValueError("stss truncated")
        sync = set(struct.unpack(f">{cnt}I", raw[p:p + 4 * cnt]))
    else:
        sync = None

    # walk chunks: stsc run applies until the next run's first_chunk
    out = []
    k = 0
    run_idx = 0
    for ci, coff in enumerate(chunk_offs, start=1):
        while (run_idx + 1 < len(stsc_runs)
               and stsc_runs[run_idx + 1][0] <= ci):
            run_idx += 1
        spc = stsc_runs[run_idx][1]
        off = coff
        for _ in range(spc):
            if k >= n_samples:
                break
            # the tables must describe byte ranges INSIDE this stream —
            # a range past EOF (corrupt stsz/stco, or u32/u64 values
            # that would wrap the signed plan columns) degrades instead
            # of emitting a poisoned fetch plan
            if off + sizes[k] > stream_len:
                raise ValueError("sample byte range past end of stream")
            out.append((k, dts_units[k] * 1000 // timescale, off,
                        sizes[k], sync is None or (k + 1) in sync))
            off += sizes[k]
            k += 1
    if k < n_samples:
        raise ValueError("chunk tables cover fewer samples than stsz")
    return out


def make_mini_mp4_samples(sizes: list[int], delta_units: int = 100,
                          timescale: int = 1000,
                          chunk_lens: list[int] | None = None,
                          sync_every: int | None = None,
                          width: int = 16, height: int = 16) -> bytes:
    """Deterministic MP4 WITH a sample table and a real mdat:
    mdat-FIRST layout (legal per ISO 14496-12), so sample k's byte
    offset is exactly len(ftyp) + 8 + sum(sizes[:k]) — trivially
    replicable arithmetic for value oracles.  Payload byte j of sample
    k is (k * 31 + j) % 256.  ``chunk_lens`` splits samples into
    chunks (default: one chunk); ``sync_every`` marks samples 1,
    1+n, ... as sync via stss (default: no stss = all sync)."""
    n = len(sizes)
    ftyp = _ftyp_box()
    payload = b"".join(
        bytes((k * 31 + j) % 256 for j in range(sz))
        for k, sz in enumerate(sizes))
    mdat = _box(b"mdat", payload)
    data_start = len(ftyp) + 8

    chunk_lens = chunk_lens or [n]
    if sum(chunk_lens) != n:
        raise ValueError("chunk_lens must cover every sample")
    chunk_offs = []
    k = 0
    for cl in chunk_lens:
        chunk_offs.append(data_start + sum(sizes[:k]))
        k += cl

    full = b"\x00\x00\x00\x00"
    stsz = _box(b"stsz", full + struct.pack(">II", 0, n)
                + struct.pack(f">{n}I", *sizes))
    stts = _box(b"stts", full + struct.pack(">III", 1, n, delta_units))
    # one stsc run per distinct samples-per-chunk prefix
    runs = []
    for ci, cl in enumerate(chunk_lens, start=1):
        if not runs or runs[-1][1] != cl:
            runs.append((ci, cl))
    stsc = _box(b"stsc", full + struct.pack(">I", len(runs))
                + b"".join(struct.pack(">III", fc, cl, 1)
                           for fc, cl in runs))
    stco = _box(b"stco", full + struct.pack(">I", len(chunk_offs))
                + struct.pack(f">{len(chunk_offs)}I", *chunk_offs))
    boxes = stsz + stts + stsc + stco
    if sync_every:
        syncs = list(range(1, n + 1, sync_every))
        boxes += _box(b"stss", full + struct.pack(">I", len(syncs))
                      + struct.pack(f">{len(syncs)}I", *syncs))
    stbl = _box(b"stbl", boxes)
    mdhd = _box(b"mdhd", full + struct.pack(">II", 0, 0)
                + struct.pack(">II", timescale, n * delta_units)
                + b"\x00" * 4)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + _hdlr_vide_box() + minf)
    trak = _box(b"trak", _tkhd_box(width, height) + mdia)
    mvhd = _mvhd_box(timescale, n * delta_units)
    return ftyp + mdat + _box(b"moov", mvhd + trak)
