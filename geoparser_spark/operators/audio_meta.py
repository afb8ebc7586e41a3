"""Audio byte-stream parsing: container metadata + embedded text, no codec.

Reference parity: GeoParser feeds any uploaded file through Tika
auto-detect (/root/reference/geoparser_app/views.py:125); for audio
containers Tika surfaces stream metadata (sample rate, channels,
duration) and embedded tags, which flow into the index like any other
document field.  This module reproduces that surface from the public
container specs — WAV (RIFF/WAVE, the Microsoft/IBM multimedia spec:
``fmt `` / ``data`` / ``LIST INFO`` chunks), FLAC (xiph.org format
spec: STREAMINFO + VORBIS_COMMENT metadata blocks) and MP3 (ISO/IEC
11172-3 / 13818-3 frame headers, ID3v1/ID3v2 tags) — with pure stdlib
parsing.  The PCM/FLAC frame codec itself is NOT needed for any of it
(WAV samples decode below, reached only from tests; FLAC frames are
never decoded).

Span contract for an ``audio_bytes`` input span (base64 payload):
  * one media span ("audio", None, "aud://{fmt}/{rate}Hz/{ch}ch/{ms}ms")
    carrying the parsed stream parameters in the media_ref, then
  * one text span per embedded tag value, in byte order: WAV LIST-INFO
    values (INAM/IART/ICMT/...), FLAC Vorbis-comment values, MP3
    ID3v2 text frames + ID3v1 TAG fields.  This is
    the channel a production transcription stage (the audio analogue of
    OCR) would also write into — see :func:`transcribe_audio`.
Degrade contract: unrecognized or truncated payloads yield [] — never
an exception out of the extract stage.
"""

from __future__ import annotations

import base64
import binascii
import struct

# LIST-INFO sub-chunks whose payload is human text (RIFF spec §INFO).
_INFO_TEXT_IDS = frozenset(
    {b"INAM", b"IART", b"ICMT", b"ICOP", b"ISBJ", b"IGNR", b"IKEY"}
)


def _norm(s: str) -> str:
    return " ".join(s.split())


def _iter_riff_chunks(raw: bytes):
    """Yield (chunk_id, body, declared_size, truncated) over a RIFF
    stream from byte 12 on — the ONE chunk walk shared by the tolerant
    metadata parser (parse_wav, which reports the DECLARED data size so
    a truncated payload still yields the stream's nominal duration) and
    the strict sample decoder (decode_wav_pcm, which rejects truncated
    fmt/data chunks): body is clipped to the stream when the declared
    size overruns it.  Chunk sizes are word-aligned per the RIFF spec
    (odd sizes are followed by a pad byte)."""
    i, n = 12, len(raw)
    while i + 8 <= n:
        cid = raw[i:i + 4]
        (size,) = struct.unpack("<I", raw[i + 4:i + 8])
        yield cid, raw[i + 8:i + 8 + size], size, i + 8 + size > n
        i += 8 + size + (size & 1)


def parse_wav(raw: bytes) -> tuple[int, int, int, int, list[str]] | None:
    """RIFF/WAVE chunk walk → (sample_rate, channels, bits, duration_ms,
    texts) or None.

    Duration comes from the declared ``data`` size over the ``fmt ``
    byte rate (what ffprobe/Tika report), so a truncated payload still
    yields the stream's nominal duration.  Chunk sizes are word-aligned
    per the RIFF spec (odd sizes are followed by a pad byte).
    """
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    sample_rate = channels = bits = byte_rate = None
    data_size = 0
    texts: list[str] = []
    for cid, body, size, _truncated in _iter_riff_chunks(raw):
        if cid == b"fmt " and len(body) >= 16:
            (_fmt_tag, channels, sample_rate, byte_rate,
             _block_align, bits) = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data_size = size
        elif cid == b"LIST" and body[:4] == b"INFO":
            j = 4
            while j + 8 <= len(body):
                scid = body[j:j + 4]
                (ssz,) = struct.unpack("<I", body[j + 4:j + 8])
                val = body[j + 8:j + 8 + ssz].split(b"\x00")[0]
                if scid in _INFO_TEXT_IDS:
                    t = val.decode("utf-8", "replace")
                    if t:
                        texts.append(t)
                j += 8 + ssz + (ssz & 1)
    if not sample_rate or not byte_rate:
        return None
    duration_ms = data_size * 1000 // byte_rate
    return int(sample_rate), int(channels), int(bits), int(duration_ms), texts


def parse_flac(raw: bytes) -> tuple[int, int, int, int, list[str]] | None:
    """FLAC metadata-block walk → (sample_rate, channels, bits,
    duration_ms, texts) or None.

    STREAMINFO packs sample-rate(20) channels-1(3) bits-1(5)
    total-samples(36) big-endian in bytes 10..17; VORBIS_COMMENT is the
    little-endian Vorbis tag list ("KEY=value" UTF-8 entries).
    """
    if len(raw) < 8 or raw[:4] != b"fLaC":
        return None
    sr = ch = bits = None
    total_samples = 0
    texts: list[str] = []
    i = 4
    n = len(raw)
    while i + 4 <= n:
        hdr = raw[i]
        last = hdr & 0x80
        btype = hdr & 0x7F
        blen = int.from_bytes(raw[i + 1:i + 4], "big")
        body = raw[i + 4:i + 4 + blen]
        if len(body) < blen:
            break  # truncated block: keep what we have
        if btype == 0 and blen >= 18:  # STREAMINFO
            packed = int.from_bytes(body[10:18], "big")
            sr = packed >> 44
            ch = ((packed >> 41) & 0x7) + 1
            bits = ((packed >> 36) & 0x1F) + 1
            total_samples = packed & ((1 << 36) - 1)
        elif btype == 4 and blen >= 8:  # VORBIS_COMMENT
            (vlen,) = struct.unpack("<I", body[0:4])
            j = 4 + vlen
            if j + 4 <= blen:
                (cnt,) = struct.unpack("<I", body[j:j + 4])
                j += 4
                for _ in range(cnt):
                    if j + 4 > blen:
                        break
                    (clen,) = struct.unpack("<I", body[j:j + 4])
                    j += 4
                    entry = body[j:j + clen]
                    j += clen
                    _k, _, v = entry.partition(b"=")
                    t = v.decode("utf-8", "replace")
                    if t:
                        texts.append(t)
        i += 4 + blen
        if last:
            break
    if not sr:
        return None
    duration_ms = total_samples * 1000 // sr
    return int(sr), int(ch), int(bits), int(duration_ms), texts


# MPEG audio frame-header tables (ISO/IEC 11172-3 / 13818-3).
# Bitrates in kbps by [table][index]; index 0 = free format (not
# walked), 15 = invalid.  Tables: MPEG1 L1 / L2 / L3; MPEG2(.5) L1 /
# L2+L3.
_MP3_BITRATES = {
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224,
             256, 288, 320, 352, 384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112,
             128, 160, 192, 224, 256, 320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96,
             112, 128, 160, 192, 224, 256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112,
             128, 144, 160, 176, 192, 224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56,
             64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {3: [44100, 48000, 32000],      # version code 3 = MPEG1
              2: [22050, 24000, 16000],      # 2 = MPEG2
              0: [11025, 12000, 8000]}       # 0 = MPEG2.5


def _mp3_frame(raw: bytes, i: int) -> tuple[int, int, int, int] | None:
    """Parse an MPEG audio frame header at byte offset i ->
    (frame_bytes, sample_rate, samples_per_frame, channels), or None
    if the 4 bytes are not a valid non-free-format header."""
    if i + 4 > len(raw):
        return None
    h = int.from_bytes(raw[i:i + 4], "big")
    if h >> 21 != 0x7FF:
        return None
    ver = (h >> 19) & 3                    # 3=MPEG1 2=MPEG2 0=MPEG2.5
    layer = 4 - ((h >> 17) & 3)            # 1..3; code 0 reserved
    if ver == 1 or layer == 4:
        return None
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None
    pad = (h >> 9) & 1
    mode = (h >> 6) & 3
    v = 1 if ver == 3 else 2
    table = (v, layer) if (v, layer) in _MP3_BITRATES else (2, 2)
    bitrate = _MP3_BITRATES[table][br_idx] * 1000
    rate = _MP3_RATES[ver][sr_idx]
    if layer == 1:
        spf = 384
        size = (bitrate * 12 // rate + pad) * 4
    else:
        spf = 1152 if (v == 1 or layer == 2) else 576
        size = bitrate * (spf // 8) // rate + pad
    if size < 4:
        return None
    return size, rate, spf, 1 if mode == 3 else 2


def _id3v2_texts(raw: bytes) -> tuple[int, list[str]]:
    """ID3v2 header at offset 0 -> (tag_total_bytes, text frame
    values) — (0, []) when absent.  Handles v2.2 (6-byte frame
    headers: 3-char IDs + 3-byte sizes), v2.3 (plain 4-byte frame
    sizes, tag-level unsynchronisation de-stuffed) and v2.4
    (synchsafe frame sizes, per-frame unsync flag, optional footer);
    text encodings 0-3."""
    if raw[:3] != b"ID3" or len(raw) < 10:
        return 0, []
    major, flags = raw[3], raw[5]
    size = ((raw[6] & 0x7F) << 21 | (raw[7] & 0x7F) << 14
            | (raw[8] & 0x7F) << 7 | (raw[9] & 0x7F))
    total = 10 + size + (10 if major >= 4 and flags & 0x10 else 0)
    body = raw[10:min(10 + size, len(raw))]
    if flags & 0x80 and major <= 3:
        # v2.2/v2.3 unsynchronisation applies to the WHOLE tag body:
        # every 0xFF 0x00 pair was stuffed; undo before walking
        body = body.replace(b"\xff\x00", b"\xff")
    if flags & 0x40 and major >= 3:
        # skip the extended header (v2.3: plain size; v2.4: synchsafe)
        if len(body) >= 4:
            if major >= 4:
                ehsz = ((body[0] & 0x7F) << 21 | (body[1] & 0x7F) << 14
                        | (body[2] & 0x7F) << 7 | (body[3] & 0x7F))
            else:
                ehsz = int.from_bytes(body[0:4], "big") + 4
            body = body[ehsz:]
    hdr_len = 6 if major == 2 else 10
    texts = []
    j = 0
    while j + hdr_len <= len(body):
        if major == 2:
            fid = body[j:j + 3]
            fsz = int.from_bytes(body[j + 3:j + 6], "big")
            fflags = 0
        else:
            fid = body[j:j + 4]
            if major >= 4:
                fsz = ((body[j + 4] & 0x7F) << 21
                       | (body[j + 5] & 0x7F) << 14
                       | (body[j + 6] & 0x7F) << 7
                       | (body[j + 7] & 0x7F))
            else:
                fsz = int.from_bytes(body[j + 4:j + 8], "big")
            fflags = body[j + 9]
        if not fid.strip(b"\x00"):
            break                          # padding reached
        frame = body[j + hdr_len:j + hdr_len + fsz]
        j += hdr_len + fsz
        if major >= 4 and fflags & 0x02:
            # v2.4 per-frame unsynchronisation
            frame = frame.replace(b"\xff\x00", b"\xff")
        if len(frame) < 2 or not fid.startswith(b"T"):
            continue
        enc, payload = frame[0], frame[1:]
        codec = {0: "latin-1", 1: "utf-16", 2: "utf-16-be",
                 3: "utf-8"}.get(enc)
        if codec is None:
            continue
        t = payload.decode(codec, "replace").strip("\x00")
        if t:
            texts.append(t)
    return total, texts


def parse_mp3(raw: bytes) -> tuple[int, int, int, int, list[str]] | None:
    """MPEG audio (MP3) metadata walk → (sample_rate, channels, bits,
    duration_ms, texts) or None.

    The Tika-parity surface: ID3v2 text-frame values and the trailing
    ID3v1 TAG fields become texts; duration comes from walking EVERY
    frame header (exact for CBR and VBR alike — no Xing estimate
    needed), sample rate / channel mode from the first frame.  bits is
    0: MPEG audio has no integer sample container width.  The sample
    DECODE (hybrid filterbank / IMDCT) is the documented lossy-codec
    seam — decode_wav_pcm and decode_flac are the real sample paths."""
    texts: list[str] = []
    pos, id3_texts = _id3v2_texts(raw)
    texts.extend(id3_texts)
    body_end = len(raw)
    if body_end - pos >= 128 and raw[body_end - 128:body_end - 125] == b"TAG":
        v1 = raw[body_end - 128:]
        # title, artist, album, year, comment
        for lo, hi in ((3, 33), (33, 63), (63, 93), (93, 97), (97, 125)):
            t = v1[lo:hi].split(b"\x00")[0].decode("latin-1").strip()
            if t:
                texts.append(t)
        body_end -= 128
    # scan forward (bounded) to the first valid frame header
    first = None
    for i in range(pos, min(pos + 4096, body_end)):
        if raw[i:i + 1] == b"\xff" and _mp3_frame(raw, i):
            first = i
            break
    if first is None:
        return None
    rate = channels = None
    total_samples = 0
    i = first
    n_frames = 0
    while i + 4 <= body_end:
        got = _mp3_frame(raw, i)
        if got is None:
            break
        size, frate, spf, ch = got
        if i + size > body_end:
            break                          # truncated final frame
        if rate is None:
            rate, channels = frate, ch
        total_samples += spf
        n_frames += 1
        i += size
    if not n_frames or rate is None:
        return None
    if n_frames < 2 and i != body_end:
        # a lone "frame" followed by non-frame bytes is a sync false
        # positive, not an MP3 (real sniffers require 2+ consecutive
        # frames; a single-frame stream must end exactly at the frame)
        return None
    duration_ms = total_samples * 1000 // rate
    return int(rate), int(channels), 0, int(duration_ms), texts


def parse_audio_meta(
    raw: bytes,
) -> tuple[str, int, int, int, int, list[str]] | None:
    """(format, sample_rate, channels, bits, duration_ms, texts) or
    None if the stream is not a recognized audio container."""
    for fmt, parser in (("wav", parse_wav), ("flac", parse_flac),
                        ("mp3", parse_mp3)):
        try:
            got = parser(raw)
        except (struct.error, IndexError):
            got = None
        if got is not None:
            return (fmt, *got)
    return None


def extract_audio_spans(raw: bytes) -> list[tuple[str, str | None, str | None]]:
    """Audio bytes → extract-stage span triples (kind, text, media_ref)."""
    meta = parse_audio_meta(raw)
    if meta is None:
        return []
    fmt, sr, ch, _bits, ms, texts = meta
    out: list[tuple[str, str | None, str | None]] = [
        ("audio", None, f"aud://{fmt}/{sr}Hz/{ch}ch/{ms}ms")
    ]
    for t in texts:
        t = _norm(t)
        if t:
            out.append(("text", t, None))
    return out


def extract_audio_b64_spans(b64: str) -> list[tuple[str, str | None, str | None]]:
    """Base64-wrapped variant — ``audio_bytes`` span payloads carry the
    byte stream base64-encoded in ``text`` (FIXTURES.md §1)."""
    try:
        raw = base64.b64decode(b64, validate=False)
    except (binascii.Error, ValueError):
        return []
    return extract_audio_spans(raw)


def transcribe_audio(raw: bytes) -> str:
    """Real speech-to-text — NOT AVAILABLE in this container (no ASR
    engine).

    Raises NotImplementedError by design; a deployment wires an ASR
    model here and appends the result as a text span next to the
    embedded-tag spans above.  The batch plumbing that would carry its
    output is exactly the embedded-text path, which IS tested."""
    raise NotImplementedError("ASR engine not present in sandbox; see docstring")


# ---------------------------------------------------------------- fixtures


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def make_mini_wav(sample_rate: int = 8000, channels: int = 1,
                  bits: int = 8, n_frames: int = 0,
                  comments: list[str] = (), title: str | None = None) -> bytes:
    """Deterministic PCM WAV: fmt + optional LIST/INFO + silence data."""
    block_align = channels * (bits // 8)
    byte_rate = sample_rate * block_align
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      block_align, bits)
    chunks = _riff_chunk(b"fmt ", fmt)
    info = b""
    if title is not None:
        info += _riff_chunk(b"INAM", title.encode("utf-8") + b"\x00")
    for c in comments:
        info += _riff_chunk(b"ICMT", c.encode("utf-8") + b"\x00")
    if info:
        chunks += _riff_chunk(b"LIST", b"INFO" + info)
    chunks += _riff_chunk(b"data", b"\x00" * (n_frames * block_align))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def make_mini_mp3(n_frames: int = 10, sample_rate: int = 44100,
                  bitrate_kbps: int = 128, stereo: bool = True,
                  id3v2_texts: list | None = None,
                  id3v1: tuple | None = None,
                  layer: int = 3, mpeg2: bool = False) -> bytes:
    """Deterministic MPEG-audio fixture: n_frames valid frame headers
    with zero-filled payloads (the metadata walk never reads payload
    bits), optional ID3v2.3 text frames ahead and an ID3v1 TAG block
    behind — mirroring how tag readers treat MP3s.  Supports layers
    1-3 and MPEG1/MPEG2 so every table row is reachable."""
    v = 2 if mpeg2 else 1
    table = (v, layer) if (v, layer) in _MP3_BITRATES else (2, 2)
    try:
        br_idx = _MP3_BITRATES[table].index(bitrate_kbps)
    except ValueError:
        raise ValueError(f"bitrate {bitrate_kbps} not in table {table}")
    ver_code = 3 if v == 1 else 2
    rates = _MP3_RATES[ver_code]
    if sample_rate not in rates:
        raise ValueError(f"sample rate {sample_rate} not valid for "
                         f"MPEG{v}")
    sr_idx = rates.index(sample_rate)
    h = (0x7FF << 21 | ver_code << 19 | (4 - layer) << 17 | 1 << 16
         | br_idx << 12 | sr_idx << 10
         | (0 if stereo else 3) << 6)
    hdr = h.to_bytes(4, "big")
    bitrate = bitrate_kbps * 1000
    if layer == 1:
        size = bitrate * 12 // sample_rate * 4
    else:
        spf = 1152 if (v == 1 or layer == 2) else 576
        size = bitrate * (spf // 8) // sample_rate
    frame = hdr + b"\x00" * (size - 4)
    out = bytearray()
    if id3v2_texts:
        frames = bytearray()
        for k, text in enumerate(id3v2_texts):
            body = b"\x03" + text.encode("utf-8")
            fid = (b"TIT2", b"TPE1", b"TALB", b"TCON")[k % 4]
            frames += fid + len(body).to_bytes(4, "big") + b"\x00\x00"
            frames += body
        sz = len(frames)
        synch = bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                       (sz >> 7) & 0x7F, sz & 0x7F])
        out += b"ID3\x03\x00\x00" + synch + frames
    out += frame * n_frames
    if id3v1:
        title, artist, album, comment, year = (list(id3v1) + [""] * 5)[:5]
        tag = bytearray(128)
        tag[0:3] = b"TAG"
        tag[3:33] = title.encode("latin-1")[:30].ljust(30, b"\x00")
        tag[33:63] = artist.encode("latin-1")[:30].ljust(30, b"\x00")
        tag[63:93] = album.encode("latin-1")[:30].ljust(30, b"\x00")
        tag[93:97] = year.encode("latin-1")[:4].ljust(4, b"\x00")
        tag[97:125] = comment.encode("latin-1")[:28].ljust(28, b"\x00")
        out += bytes(tag)
    return bytes(out)


def _flac_block(btype: int, body: bytes, last: bool) -> bytes:
    return bytes([btype | (0x80 if last else 0)]) + len(body).to_bytes(3, "big") + body


def make_mini_flac(sample_rate: int = 8000, channels: int = 1,
                   bits: int = 16, n_samples: int = 0,
                   comments: list[str] = ()) -> bytes:
    """Deterministic FLAC metadata stream: STREAMINFO (+ VORBIS_COMMENT).

    Metadata-only (no audio frames): every field the parser reads lives
    in the metadata blocks, mirroring how tag readers treat FLAC."""
    packed = ((sample_rate << 44) | ((channels - 1) << 41)
              | ((bits - 1) << 36) | (n_samples & ((1 << 36) - 1)))
    streaminfo = (struct.pack(">HH", 16, 16) + b"\x00" * 6
                  + packed.to_bytes(8, "big") + b"\x00" * 16)
    blocks = []
    if comments:
        vendor = b"geoparser_spark"
        body = struct.pack("<I", len(vendor)) + vendor
        body += struct.pack("<I", len(comments))
        for c in comments:
            entry = ("COMMENT=" + c).encode("utf-8")
            body += struct.pack("<I", len(entry)) + entry
        blocks.append((4, body))
    out = b"fLaC" + _flac_block(0, streaminfo, last=not blocks)
    for k, (btype, body) in enumerate(blocks):
        out += _flac_block(btype, body, last=(k == len(blocks) - 1))
    return out


# --------------------------------------------------------- sample decode
# The metadata walk above needs no codec; WAV *samples* decode with
# pure numpy for integer PCM, IEEE-float PCM, WAVE_FORMAT_EXTENSIBLE
# wrappers of either, IMA ADPCM, MS-ADPCM, and G.711 µ-law/A-law (all
# deterministic integer / exact IEEE arithmetic).  The lossy-codec/ASR
# stack stays the documented seam (transcribe_audio above; MP3 raises
# NotImplementedError).

_MAX_SAMPLES = 256_000_000     # bomb guard: total samples per stream

# IMA ADPCM quantizer tables (IMA "Recommended Practices for Enhancing
# Digital Audio Compatibility", the standard 89-step table).
_IMA_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
]
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]

# MS-ADPCM tables (Microsoft "Multimedia Programming Interface and
# Data Specifications" WAVE_FORMAT_ADPCM): 7 standard predictor
# coefficient pairs and the 16-entry delta adaptation table indexed by
# the raw 4-bit nibble code.
_MS_COEF1 = [256, 512, 0, 192, 240, 460, 392]
_MS_COEF2 = [0, -256, 0, 64, 0, -208, -232]
_MS_ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]
# bomb guard: legitimate encoder deltas stay ~4 decimal digits (the
# idelta header field is itself an int16); the clamp only stops a
# crafted stream from overflowing the int64 accumulator via the
# x3-per-step growth of repeated adapt=768 nibbles
_MS_DELTA_MAX = 1 << 24


def _decode_pcm_int(data: bytes, bits: int) -> "object":
    """Integer PCM body -> flat int32 array of 16-bit-equivalent
    samples (8-bit recenters and scales by 256 exactly; 16 passes
    through; 24/32 keep their top 16 bits)."""
    import numpy as np

    if bits == 8:
        s = np.frombuffer(data, dtype=np.uint8).astype(np.int32)
        return (s - 128) * 256
    if bits == 16:
        return np.frombuffer(data, dtype="<i2").astype(np.int32)
    if bits == 32:
        return np.frombuffer(data, dtype="<i4").astype(np.int32) >> 16
    # 24-bit little-endian signed
    b3 = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
    s = (b3[:, 0].astype(np.int32)
         | (b3[:, 1].astype(np.int32) << 8)
         | (b3[:, 2].astype(np.int32) << 16))
    return (s << 8) >> 16                  # sign-extend, keep top 16 bits


def _decode_pcm_float(data: bytes, bits: int) -> "object":
    """IEEE-float PCM body -> flat int32 16-bit-equivalent samples via
    round-half-even (np.rint) then clip — bit-deterministic, and the
    exact inverse of make_wav_float for any sample representable in
    the integer domain.  Non-finite samples raise ValueError (degrade
    contract): a NaN has no defined integer image."""
    import numpy as np

    x = np.frombuffer(data, dtype="<f4" if bits == 32 else "<f8")
    x = x.astype(np.float64)
    if x.size and not np.isfinite(x).all():
        raise ValueError("non-finite float sample")
    s = np.rint(x * 32768.0)
    return np.clip(s, -32768, 32767).astype(np.int32)


def _g711_decode_table(law: str) -> list:
    """256-entry G.711 code -> 16-bit linear decode table (the
    canonical segment/mantissa expansion: µ-law biased by 0x84 over 8
    segments to ±32124; A-law XOR 0x55 with the seg-0/1 special cases
    to ±32256)."""
    tab = []
    for code in range(256):
        if law == "ulaw":
            u = ~code & 0xFF
            t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
            tab.append(0x84 - t if u & 0x80 else t - 0x84)
        else:                              # alaw
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
    return tab


def _decode_g711(data: bytes, law: str) -> "object":
    """G.711 data chunk -> flat int32 16-bit samples (table lookup)."""
    import numpy as np

    tab = np.asarray(_g711_decode_table(law), dtype=np.int32)
    return tab[np.frombuffer(data, dtype=np.uint8)]


def _decode_ima_adpcm(data: bytes, channels: int, block_align: int,
                      spb: int) -> "object":
    """IMA ADPCM data chunk -> (n_frames, channels) int32 samples.

    Blocks are independent (each carries its own predictor + step
    index per channel), so the sequential quantizer state machine
    vectorizes ACROSS blocks: one Python iteration per in-block sample
    position, numpy over (blocks x channels) — O(samples_per_block)
    interpreter steps regardless of stream length."""
    import numpy as np

    n_blocks = len(data) // block_align
    if n_blocks == 0:
        return np.zeros((0, channels), dtype=np.int32)
    blocks = np.frombuffer(
        data[:n_blocks * block_align], dtype=np.uint8
    ).reshape(n_blocks, block_align)
    hdr = blocks[:, :4 * channels].reshape(n_blocks, channels, 4)
    pred = hdr[:, :, 0].astype(np.int32) | (hdr[:, :, 1].astype(np.int32) << 8)
    pred = (pred << 16) >> 16              # sign-extend int16 predictor
    idx = hdr[:, :, 2].astype(np.int32)
    if int(idx.max(initial=0)) > 88:
        raise ValueError("ADPCM step index out of range")
    body = blocks[:, 4 * channels:]
    n_words = body.shape[1] // (4 * channels)
    # channel-interleaved 4-byte words -> (blocks, channels, nibbles)
    w = body[:, :n_words * 4 * channels].reshape(
        n_blocks, n_words, channels, 4)
    nib = np.empty((n_blocks, n_words, channels, 8), dtype=np.uint8)
    nib[..., 0::2] = w & 0x0F              # low nibble first
    nib[..., 1::2] = w >> 4
    nib = nib.transpose(0, 2, 1, 3).reshape(n_blocks, channels, n_words * 8)

    step_tab = np.asarray(_IMA_STEP, dtype=np.int32)
    adj_tab = np.asarray(_IMA_INDEX_ADJ, dtype=np.int32)
    out = np.empty((n_blocks, channels, spb), dtype=np.int32)
    out[:, :, 0] = pred
    for t in range(spb - 1):
        n = nib[:, :, t].astype(np.int32)
        step = step_tab[idx]
        vp = ((step >> 3)
              + np.where(n & 4, step, 0)
              + np.where(n & 2, step >> 1, 0)
              + np.where(n & 1, step >> 2, 0))
        pred = np.where(n & 8, pred - vp, pred + vp)
        np.clip(pred, -32768, 32767, out=pred)
        idx = np.clip(idx + adj_tab[n & 7], 0, 88)
        out[:, :, t + 1] = pred
    return out.transpose(0, 2, 1).reshape(n_blocks * spb, channels)


def _decode_ms_adpcm(data: bytes, channels: int, block_align: int,
                     spb: int, coef1: "object",
                     coef2: "object") -> "object":
    """MS-ADPCM data chunk -> (n_frames, channels) int32 samples.

    Same vectorization strategy as :func:`_decode_ima_adpcm`: blocks
    are independent (each header carries predictor index, idelta and
    the two verbatim warm-up samples per channel), so the sequential
    adaptive-delta state machine runs one Python step per in-block
    sample position, numpy over (blocks x channels).  Arithmetic is
    the Microsoft spec's C pseudocode: pred = (s1*coef1 + s2*coef2)
    / 256 with C integer division (TRUNCATION toward zero for
    negative sums — ffmpeg/sox agree; an arithmetic shift would floor
    and diverge one LSB on negative non-multiples, feeding back
    through the whole rest of the block), sample = clamp16(pred +
    signed_nibble*delta), delta = max(16, (adapt[nibble]*delta)/256 —
    both operands positive, so shift and division agree there)."""
    import numpy as np

    n_blocks = len(data) // block_align
    if n_blocks == 0:
        return np.zeros((0, channels), dtype=np.int32)
    blocks = np.frombuffer(
        data[:n_blocks * block_align], dtype=np.uint8
    ).reshape(n_blocks, block_align)
    bpred = blocks[:, :channels].astype(np.int64)
    if int(bpred.max(initial=0)) >= len(coef1):
        raise ValueError("MS-ADPCM predictor index out of range")
    hdr = blocks[:, channels:7 * channels].reshape(
        n_blocks, 3, channels, 2)
    vals = (hdr[:, :, :, 0].astype(np.int64)
            | (hdr[:, :, :, 1].astype(np.int64) << 8))
    vals = (vals << 48) >> 48              # sign-extend int16 fields
    delta, s1, s2 = vals[:, 0], vals[:, 1], vals[:, 2]   # each (B, C)
    c1 = np.asarray(coef1, dtype=np.int64)[bpred]
    c2 = np.asarray(coef2, dtype=np.int64)[bpred]

    body = blocks[:, 7 * channels:]
    nib = np.empty((n_blocks, body.shape[1], 2), dtype=np.uint8)
    nib[:, :, 0] = body >> 4               # high nibble is the earlier
    nib[:, :, 1] = body & 0x0F
    # flat nibble sequence interleaves channels sample-by-sample
    nib = nib.reshape(n_blocks, -1)[:, :(spb - 2) * channels]
    nib = nib.reshape(n_blocks, spb - 2, channels)

    adapt = np.asarray(_MS_ADAPT, dtype=np.int64)
    out = np.empty((n_blocks, spb, channels), dtype=np.int32)
    out[:, 0, :] = s2                      # iSamp2 is the OLDER sample
    out[:, 1, :] = s1
    for t in range(spb - 2):
        n4 = nib[:, t, :].astype(np.int64)
        signed = n4 - ((n4 & 8) << 1)      # 0..15 -> -8..7
        acc = s1 * c1 + s2 * c2
        pred = np.where(acc >= 0, acc >> 8, -((-acc) >> 8))  # C trunc
        samp = pred + signed * delta
        np.clip(samp, -32768, 32767, out=samp)
        s2 = s1
        s1 = samp
        delta = (adapt[n4] * delta) >> 8
        np.clip(delta, 16, _MS_DELTA_MAX, out=delta)
        out[:, t + 2, :] = samp
    return out.reshape(n_blocks * spb, channels)


def decode_wav_pcm(raw: bytes) -> tuple[int, "object"]:
    """WAV bytes -> (sample_rate, (n_frames, channels) int32 array of
    16-BIT-EQUIVALENT samples), REAL for five format families:

    - integer PCM (tag 1): 8-bit recenters/scales by 256 exactly,
      16-bit passes through, 24/32-bit keep their top 16 bits;
    - IEEE-float PCM (tag 3, 32/64-bit): round-half-even to the same
      integer domain (exact inverse of make_wav_float);
    - WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE): routed by the SubFormat
      GUID to either of the above (left-justified containers per the
      wValidBitsPerSample rule, so container-width decode is exact);
    - IMA ADPCM (tag 0x11): the standard 89-step integer quantizer
      state machine, block-vectorized, frame count trimmed by the
      ``fact`` chunk;
    - MS-ADPCM (tag 0x02): the Microsoft adaptive-delta predictor
      (fmt-supplied coefficient pairs, 16-entry adaptation table),
      block-vectorized the same way;
    - G.711 µ-law/A-law (tags 7/6): canonical 256-entry decode-table
      lookup.

    One integer domain so a pure-Python replica reproduces every
    downstream statistic bit-for-bit.  Remaining tags (MP3...) raise
    NotImplementedError (degrade contract); malformed/truncated
    streams raise ValueError."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    fmt_body = None
    data = None
    fact_frames = None
    for cid, body, _size, truncated in _iter_riff_chunks(raw):
        if cid == b"fmt ":
            # the sample contract needs fmt/data INTACT; trailing
            # metadata chunks (LIST/INFO etc.) may be truncated without
            # losing a single sample, so only these two are strict
            if truncated or len(body) < 16:
                raise ValueError("fmt chunk truncated")
            fmt_body = body
        elif cid == b"data":
            if truncated:
                raise ValueError("data chunk overruns stream")
            data = body
        elif cid == b"fact" and not truncated and len(body) >= 4:
            fact_frames = struct.unpack("<I", body[:4])[0]
    if fmt_body is None or data is None:
        raise ValueError("missing fmt / data chunk")
    (fmt_tag, channels, sample_rate, _br,
     block_align, bits) = struct.unpack("<HHIIHH", fmt_body[:16])
    if channels == 0 or sample_rate == 0:
        raise ValueError("zero channels or sample rate")

    if fmt_tag == 0xFFFE:                  # WAVE_FORMAT_EXTENSIBLE
        if len(fmt_body) < 40:
            raise ValueError("extensible fmt chunk truncated")
        fmt_tag = struct.unpack("<H", fmt_body[24:26])[0]
        if fmt_body[26:40] != b"\x00\x00" + _KS_GUID_TAIL:
            raise NotImplementedError(
                "extensible WAV SubFormat outside the KSDATAFORMAT "
                "namespace (vendor codec GUID — documented seam)")
        if fmt_tag not in (1, 3):
            raise NotImplementedError(
                f"extensible WAV SubFormat {fmt_tag} (PCM/float only)")

    if fmt_tag == 0x02:                    # MS-ADPCM
        if bits != 4:
            raise ValueError(f"illegal MS-ADPCM bit depth {bits}")
        if len(fmt_body) < 22:
            raise ValueError("MS-ADPCM fmt chunk missing coefficients")
        spb, ncoef = struct.unpack("<HH", fmt_body[18:22])
        if ncoef < 1 or len(fmt_body) < 22 + 4 * ncoef:
            raise ValueError("MS-ADPCM coefficient table truncated")
        pairs = struct.unpack(f"<{2 * ncoef}h", fmt_body[22:22 + 4 * ncoef])
        coef1, coef2 = list(pairs[0::2]), list(pairs[1::2])
        body_bytes = block_align - 7 * channels
        if (body_bytes < 0 or body_bytes * 2 % channels
                or spb != body_bytes * 2 // channels + 2):
            raise ValueError("MS-ADPCM block layout inconsistent with fmt")
        n_blocks = len(data) // block_align
        if n_blocks * spb * channels > _MAX_SAMPLES:
            raise ValueError("sample count out of range")
        frames = _decode_ms_adpcm(data, channels, block_align, spb,
                                  coef1, coef2)
        if fact_frames is not None:
            frames = frames[:fact_frames]
        return int(sample_rate), frames

    if fmt_tag == 0x11:                    # IMA ADPCM
        if bits != 4:
            raise ValueError(f"illegal IMA ADPCM bit depth {bits}")
        if len(fmt_body) < 20:
            raise ValueError("IMA fmt chunk missing samples-per-block")
        spb = struct.unpack("<H", fmt_body[18:20])[0]
        body_bytes = block_align - 4 * channels
        if (body_bytes <= 0 or body_bytes % (4 * channels)
                or spb != body_bytes * 2 // channels + 1):
            raise ValueError("IMA block layout inconsistent with fmt")
        n_blocks = len(data) // block_align
        if n_blocks * spb * channels > _MAX_SAMPLES:
            raise ValueError("sample count out of range")
        frames = _decode_ima_adpcm(data, channels, block_align, spb)
        if fact_frames is not None:
            frames = frames[:fact_frames]
        return int(sample_rate), frames

    if fmt_tag == 3:                       # IEEE float
        if bits not in (32, 64):
            raise ValueError(f"illegal float bit depth {bits}")
    elif fmt_tag in (6, 7):                # G.711 A-law / µ-law
        if bits != 8:
            raise ValueError(f"illegal G.711 bit depth {bits}")
    elif fmt_tag == 1:
        if bits not in (8, 16, 24, 32):
            raise ValueError(f"illegal PCM bit depth {bits}")
    else:
        raise NotImplementedError(
            f"WAV format tag {fmt_tag} (integer/float PCM, extensible, "
            "IMA/MS ADPCM and G.711 are real; the rest is the "
            "documented codec seam)")
    bytes_per = bits // 8
    if block_align != channels * bytes_per:
        raise ValueError("block align inconsistent with fmt")
    n_frames = len(data) // block_align
    if n_frames * channels > _MAX_SAMPLES:
        raise ValueError("sample count out of range")
    data = data[:n_frames * block_align]
    if fmt_tag == 3:
        s = _decode_pcm_float(data, bits)
    elif fmt_tag in (6, 7):
        s = _decode_g711(data, "alaw" if fmt_tag == 6 else "ulaw")
    else:
        s = _decode_pcm_int(data, bits)
    return int(sample_rate), s.reshape(n_frames, channels)


# SubFormat GUID tail shared by the PCM and float KSDATAFORMAT GUIDs
# ({xxxxxxxx-0000-0010-8000-00aa00389b71}), serialized bytes_le: Data2
# and Data3 are little-endian (0x0010 -> "10 00"), Data4 is a byte
# array.  Follows the tag's 2 LE bytes + the 2 zero bytes of Data1.
_KS_GUID_TAIL = bytes.fromhex("00001000800000aa00389b71")


def make_wav_pcm(samples: "object", sample_rate: int = 8000,
                 bits: int = 16, extensible: bool = False) -> bytes:
    """(n_frames, channels) int array of 16-bit-equivalent samples ->
    PCM WAV bytes at the requested depth (the exact inverse of
    decode_wav_pcm's normalization, so round-trips are bit-exact for
    samples representable at that depth).  ``extensible=True`` wraps
    the same stream in a WAVE_FORMAT_EXTENSIBLE fmt chunk (tag 0xFFFE
    + the KSDATAFORMAT_SUBTYPE_PCM GUID)."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    if s.size and (s.min() < -32768 or s.max() > 32767):
        raise ValueError("samples out of the 16-bit-equivalent range")
    if bits == 8 and s.size and (s % 256).any():
        raise ValueError("8-bit fixtures need samples quantized to the "
                         "256-step grid (decode maps s//256 + 128 back)")
    if bits == 8:
        body = ((s // 256) + 128).astype(np.uint8).tobytes()
    elif bits == 16:
        body = s.astype("<i2").tobytes()
    elif bits == 32:
        body = (s.astype(np.int64) << 16).astype("<i4").tobytes()
    elif bits == 24:
        full = (s.astype(np.int64) << 8).astype(np.int32)
        b = np.empty((full.size, 3), dtype=np.uint8)
        flat = full.reshape(-1)
        b[:, 0] = flat & 0xFF
        b[:, 1] = (flat >> 8) & 0xFF
        b[:, 2] = (flat >> 16) & 0xFF
        body = b.tobytes()
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    block_align = channels * (bits // 8)
    fmt = struct.pack("<HHIIHH",
                      0xFFFE if extensible else 1, channels, sample_rate,
                      sample_rate * block_align, block_align, bits)
    if extensible:
        fmt += struct.pack("<HHI", 22, bits, 0)
        fmt += struct.pack("<H", 1) + b"\x00\x00" + _KS_GUID_TAIL
    chunks = _riff_chunk(b"fmt ", fmt) + _riff_chunk(b"data", body)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def make_wav_float(samples: "object", sample_rate: int = 8000,
                   bits: int = 32) -> bytes:
    """(n_frames, channels) int array of 16-bit-equivalent samples ->
    IEEE-float WAV bytes (tag 3) holding s/32768.0 — exact in both
    float32 and float64 for any 16-bit integer, so
    decode_wav_pcm(make_wav_float(s)) == s bit-for-bit."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    if s.size and (s.min() < -32768 or s.max() > 32767):
        raise ValueError("samples out of the 16-bit-equivalent range")
    x = s.astype(np.float64) / 32768.0
    if bits == 32:
        body = x.astype("<f4").tobytes()
    elif bits == 64:
        body = x.astype("<f8").tobytes()
    else:
        raise ValueError(f"unsupported float bit depth {bits}")
    block_align = channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", 3, channels, sample_rate,
                      sample_rate * block_align, block_align, bits)
    chunks = (_riff_chunk(b"fmt ", fmt)
              + _riff_chunk(b"fact", struct.pack("<I", s.shape[0]))
              + _riff_chunk(b"data", body))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _ima_encode_channel(ch: "object", spb: int) -> tuple[list, list, list]:
    """One channel of 16-bit samples -> (block predictors, block step
    indices, nibble lists per block) with the canonical IMA encoder
    (mirror arithmetic of _decode_ima_adpcm, so encode->decode is the
    quantizer's own fixpoint).  The step index carries across blocks;
    each block's first sample is stored verbatim in its header."""
    idx = 0
    preds, idxs, nibbles = [], [], []
    n = len(ch)
    for start in range(0, n, spb):
        pred = int(ch[start])
        preds.append(pred)
        idxs.append(idx)
        nibs = []
        for t in range(1, spb):
            k = start + t
            sample = int(ch[k]) if k < n else int(ch[n - 1])  # pad: hold
            step = _IMA_STEP[idx]
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
            idx = max(0, min(88, idx + _IMA_INDEX_ADJ[nib & 7]))
            nibs.append(nib)
        nibbles.append(nibs)
    return preds, idxs, nibbles


def make_wav_adpcm(samples: "object", sample_rate: int = 8000,
                   samples_per_block: int = 129) -> bytes:
    """(n_frames, channels) int array of 16-bit samples -> IMA ADPCM
    WAV bytes (tag 0x11): per-block per-channel 4-byte headers, then
    channel-interleaved 4-byte nibble words, a ``fact`` chunk carrying
    the true frame count (decode trims the final block's pad to it).
    samples_per_block - 1 must divide by 8 (word alignment)."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, channels = s.shape
    spb = samples_per_block
    if n == 0:
        raise ValueError("ADPCM fixture needs at least one frame")
    if spb < 9 or (spb - 1) % 8:
        raise ValueError("samples_per_block - 1 must be a multiple of 8")
    if s.min() < -32768 or s.max() > 32767:
        raise ValueError("samples out of the 16-bit range")
    per_ch = [_ima_encode_channel(s[:, c], spb) for c in range(channels)]
    n_blocks = len(per_ch[0][0])
    body = bytearray()
    for b in range(n_blocks):
        for c in range(channels):
            preds, idxs, _ = per_ch[c]
            body += struct.pack("<hBB", preds[b], idxs[b], 0)
        nibs = [per_ch[c][2][b] for c in range(channels)]
        for g in range(0, spb - 1, 8):
            for c in range(channels):
                chunk = nibs[c][g:g + 8]
                for lo, hi in zip(chunk[0::2], chunk[1::2]):
                    body.append(lo | (hi << 4))
    block_align = 4 * channels + (spb - 1) // 2 * channels
    byte_rate = sample_rate * block_align // spb
    fmt = struct.pack("<HHIIHHHH", 0x11, channels, sample_rate,
                      byte_rate, block_align, 4, 2, spb)
    chunks = (_riff_chunk(b"fmt ", fmt)
              + _riff_chunk(b"fact", struct.pack("<I", n))
              + _riff_chunk(b"data", bytes(body)))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _ms_encode_channel(ch: "object", spb: int,
                       pred_of_block: "object") -> tuple:
    """One channel of 16-bit samples -> (per-block idelta list, nibble
    lists, reconstructed samples) under the canonical MS-ADPCM encoder
    (mirror arithmetic of _decode_ms_adpcm, truncating division for
    the nibble quantizer, so encode->decode is the state machine's own
    fixpoint).  The delta carries across blocks; each block's first two
    samples are stored verbatim in its header."""
    delta = 16
    deltas, nibbles, recon = [], [], []
    n = len(ch)
    for b, start in enumerate(range(0, n, spb)):
        c1 = _MS_COEF1[pred_of_block(b)]
        c2 = _MS_COEF2[pred_of_block(b)]
        s2 = int(ch[start])
        s1 = int(ch[start + 1]) if start + 1 < n else s2
        deltas.append(delta)
        recon.extend((s2, s1))
        nibs = []
        for t in range(2, spb):
            k = start + t
            sample = int(ch[k]) if k < n else int(ch[n - 1])  # pad: hold
            acc = s1 * c1 + s2 * c2
            pred = acc // 256 if acc >= 0 else -((-acc) // 256)  # C trunc
            err = sample - pred
            q = abs(err) // delta          # C-style truncation
            nib = max(-8, min(7, q if err >= 0 else -q))
            samp = max(-32768, min(32767, pred + nib * delta))
            s2, s1 = s1, samp
            delta = max(16, (_MS_ADAPT[nib & 0x0F] * delta) >> 8)
            nibs.append(nib & 0x0F)
            recon.append(samp)
        nibbles.append(nibs)
    return deltas, nibbles, recon


def make_wav_ms_adpcm(samples: "object", sample_rate: int = 8000,
                      samples_per_block: int = 130) -> bytes:
    """(n_frames, channels) int array of 16-bit samples -> MS-ADPCM
    WAV bytes (tag 2): per-block headers (predictor byte per channel,
    then int16 idelta / iSamp1 / iSamp2 per channel), then channel-
    interleaved 4-bit nibbles high-first, a ``fact`` chunk carrying the
    true frame count.  The block predictor rotates (block + channel)
    % 7 so every standard coefficient pair is exercised.
    (samples_per_block - 2) * channels must be even (whole bytes)."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, channels = s.shape
    spb = samples_per_block
    if n == 0:
        raise ValueError("ADPCM fixture needs at least one frame")
    if spb < 2 or (spb - 2) * channels % 2:
        raise ValueError("(samples_per_block - 2) * channels must be even")
    if s.min() < -32768 or s.max() > 32767:
        raise ValueError("samples out of the 16-bit range")
    per_ch = [
        _ms_encode_channel(s[:, c], spb, lambda b, c=c: (b + c) % 7)
        for c in range(channels)
    ]
    n_blocks = (n + spb - 1) // spb
    body = bytearray()
    for b in range(n_blocks):
        start = b * spb
        for c in range(channels):
            body.append((b + c) % 7)
        for c in range(channels):
            body += struct.pack("<h", per_ch[c][0][b])
        for c in range(channels):       # iSamp1 = the NEWER warm-up
            body += struct.pack("<h", per_ch[c][2][start + 1])
        for c in range(channels):       # iSamp2 = the older one
            body += struct.pack("<h", per_ch[c][2][start])
        nibs = [per_ch[c][1][b] for c in range(channels)]
        flat = [nibs[c][t] for t in range(spb - 2) for c in range(channels)]
        for hi, lo in zip(flat[0::2], flat[1::2]):
            body.append((hi << 4) | lo)
    block_align = 7 * channels + (spb - 2) * channels // 2
    byte_rate = sample_rate * block_align // spb
    fmt = struct.pack("<HHIIHHHHH", 0x02, channels, sample_rate,
                      byte_rate, block_align, 4, 4 + 4 * 7, spb, 7)
    for c1, c2 in zip(_MS_COEF1, _MS_COEF2):
        fmt += struct.pack("<hh", c1, c2)
    chunks = (_riff_chunk(b"fmt ", fmt)
              + _riff_chunk(b"fact", struct.pack("<I", n))
              + _riff_chunk(b"data", bytes(body)))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def make_wav_g711(samples: "object", sample_rate: int = 8000,
                  law: str = "ulaw") -> bytes:
    """(n_frames, channels) int array of 16-bit samples -> G.711 WAV
    bytes (tag 7 µ-law / 6 A-law).  Each sample quantizes to the code
    whose decode-table value is NEAREST (ties to the lower code) — a
    deterministic optimal quantizer, so the scalar replica replays the
    encode->decode round trip exactly and any spec-conformant external
    decoder reproduces the same linear stream."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    if s.size and (s.min() < -32768 or s.max() > 32767):
        raise ValueError("samples out of the 16-bit range")
    if law not in ("ulaw", "alaw"):
        raise ValueError(f"unknown G.711 law {law!r}")
    tab = np.asarray(_g711_decode_table(law), dtype=np.int64)
    # argmin returns the FIRST minimal index -> ties break to lower code
    codes = np.abs(s.reshape(-1)[:, None] - tab[None, :]).argmin(axis=1)
    body = codes.astype(np.uint8).tobytes()
    fmt = struct.pack("<HHIIHH", 7 if law == "ulaw" else 6, channels,
                      sample_rate, sample_rate * channels, channels, 8)
    chunks = (_riff_chunk(b"fmt ", fmt)
              + _riff_chunk(b"fact", struct.pack("<I", s.shape[0]))
              + _riff_chunk(b"data", body))
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
