"""Pure-stdlib PNG pixel codec (RFC 2083): zlib-inflate + per-scanline
unfilter on decode, filter-0 + zlib-deflate on encode.

This makes ONE pixel path REAL end-to-end in the sandbox (no PIL /
libjpeg present): `decode_png` returns an (H, W, C) uint8 numpy array
for the formats that dominate synthetic/test corpora — 8-bit
greyscale (color type 0), RGB (2), palette (3), grey+alpha (4) and
RGBA (6) — sequential or Adam7-interlaced (real corpora contain Adam7
PNGs; each of the seven reduced images unfilters independently and
scatters back on the spec §2.6 grid), at EVERY spec-legal bit depth:
16-bit samples unfilter at bpp = ch*2 and keep the most-significant
byte (the spec's own rescale to 8 bits); sub-byte depths 1/2/4
(grey/palette) unpack MSB-first from ceil(w*d/8)-byte scanlines, grey
rescaled by the exact integer factor 255/(2^d-1).  Baseline JPEG has
its own codec (operators/jpeg_codec).

No dataflow stage decodes pixels, so this module is reached only from
tests; the per-image numpy unfilter is vectorized per scanline.

Reference parity: the reference's pixel path is Tika+Tesseract OCR on
uploaded images (geoparser_app/views.py:125; Docker/Dockerfile:33-36);
this module is the from-scratch stand-in for "the engine can actually
open an image", not a port of anything.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> raw channels per pixel (before palette expansion)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: Adam7 pass grid (spec §2.6): (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filters (spec §6): each scanline is 1 filter
    byte + `stride` data bytes.  Returns (height, stride) uint8.

    Sub/Paeth recur along x, so those lines fall back to a per-pixel
    loop over the line's bytes; None/Up/Average-with-no-left vectorize.
    """
    expect = height * (stride + 1)
    if len(raw) < expect:
        raise ValueError(f"IDAT underflow: {len(raw)} < {expect}")
    out = np.zeros((height, stride), dtype=np.uint8)
    arr = np.frombuffer(raw[:expect], dtype=np.uint8).reshape(
        height, stride + 1)
    for y in range(height):
        ftype = int(arr[y, 0])
        line = arr[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(
            stride, dtype=np.int32)
        if ftype == 0:  # None
            out[y] = line.astype(np.uint8)
        elif ftype == 2:  # Up
            out[y] = ((line + prev) & 0xFF).astype(np.uint8)
        elif ftype == 1:  # Sub — left-recursive
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + left) & 0xFF
            out[y] = cur.astype(np.uint8)
        elif ftype == 3:  # Average — left-recursive
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
            out[y] = cur.astype(np.uint8)
        elif ftype == 4:  # Paeth — left-recursive
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                cur[x] = (line[x] + pr) & 0xFF
            out[y] = cur.astype(np.uint8)
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return out


def decode_png(raw: bytes) -> np.ndarray:
    """PNG bytes -> (H, W, C) uint8 array (C = 1/2/3/4 per color type;
    palette images expand to RGB).  Sequential and Adam7-interlaced
    streams both decode, at every spec-legal depth (1/2/4/8/16 — 16-bit
    keeps each sample's MSB, sub-byte unpacks MSB-first with exact
    integer grey rescale); raises ValueError on malformed streams."""
    if not raw.startswith(PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    i = len(PNG_SIG)
    width = height = None
    bit_depth = color_type = interlace = 0
    idat = bytearray()
    palette: np.ndarray | None = None
    while i + 8 <= len(raw):
        (length,) = struct.unpack(">I", raw[i:i + 4])
        ctype = raw[i + 4:i + 8]
        data = raw[i + 8:i + 8 + length]
        if len(data) < length:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            if length < 13:
                raise ValueError("short IHDR")
            width, height, bit_depth, color_type, _, _, interlace = \
                struct.unpack(">IIBBBBB", data[:13])
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + length  # length + type + data + CRC
    if width is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    # untrusted-input guard: a 100-byte payload can DECLARE exabyte
    # dimensions; bound the unfilter buffer before any allocation
    # (64 MP ~ a 256 MB RGBA frame — beyond any sane corpus thumbnail)
    if width > (1 << 20) or height > (1 << 20) or width * height > 64_000_000:
        raise ValueError(
            f"implausible PNG dimensions {width}x{height} (decompression "
            "bomb guard)")
    if interlace not in (0, 1):
        raise ValueError(f"bad interlace method {interlace}")
    if bit_depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"bad bit depth {bit_depth}")
    if color_type not in _CHANNELS:
        raise ValueError(f"bad color type {color_type}")
    if bit_depth == 16 and color_type == 3:
        # spec §4.1.2: palette images are 1/2/4/8-bit only
        raise ValueError("16-bit palette PNG is not spec-legal")
    if bit_depth < 8 and color_type not in (0, 3):
        raise ValueError(
            f"bit depth {bit_depth} invalid for color type {color_type}")
    ch = _CHANNELS[color_type]
    # Filters operate on BYTES (spec §6.2): for 16-bit samples bpp =
    # ch*2; for sub-byte depths (grey/palette only, so ch == 1) each
    # scanline packs pixels MSB-first into ceil(w*d/8) bytes and the
    # filter's "corresponding byte" offset is 1.
    bps = max(bit_depth // 8, 1)
    bpp = ch * bps

    def _row_bytes(w: int) -> int:
        return (w * ch * bit_depth + 7) // 8

    def _to8(px: np.ndarray, h: int, w: int) -> np.ndarray:
        """Unfiltered scanline bytes -> (h, w, ch) uint8 samples.
        16-bit keeps each sample's MSB (the spec's own rescale);
        sub-byte unpacks MSB-first and keeps RAW values (grey rescale
        happens once at the end; palette values are indices)."""
        if bit_depth == 16:
            return px.reshape(h, w, ch, 2)[:, :, :, 0]
        if bit_depth == 8:
            return px.reshape(h, w, ch)
        bits = np.unpackbits(px.reshape(h, -1), axis=1)[:, :w * bit_depth]
        vals = bits.reshape(h, w, bit_depth)
        weights = (1 << np.arange(bit_depth - 1, -1, -1)).astype(np.uint8)
        return (vals * weights).sum(axis=2, dtype=np.uint16) \
            .astype(np.uint8)[:, :, None]

    if interlace == 0:
        stride = _row_bytes(width)
        # decompressobj with max_length caps inflation at exactly the
        # scanline budget — a deflate bomb cannot expand past it
        raw_px = zlib.decompressobj().decompress(
            bytes(idat), height * (stride + 1))
        px = _unfilter(raw_px, height, stride, bpp)
        img = _to8(px, height, width)
    else:
        # Adam7 (spec §2.6): seven independent reduced images, each
        # filtered as its own scanline run, scattered back on a fixed
        # (x0, y0, dx, dy) grid.  The total inflate budget is the sum
        # of the pass budgets — same bomb cap as the sequential path.
        passes = [(x0, y0, dx, dy, -(-(width - x0) // dx),
                   -(-(height - y0) // dy))
                  for x0, y0, dx, dy in _ADAM7
                  if width > x0 and height > y0]
        budget = sum(ph * (_row_bytes(pw) + 1) for *_, pw, ph in passes)
        raw_px = zlib.decompressobj().decompress(bytes(idat), budget)
        if len(raw_px) < budget:
            raise ValueError(
                f"IDAT underflow: {len(raw_px)} < {budget}")
        img = np.zeros((height, width, ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            span = ph * (_row_bytes(pw) + 1)
            sub = _unfilter(raw_px[off:off + span], ph, _row_bytes(pw),
                            bpp)
            img[y0::dy, x0::dx] = _to8(sub, ph, pw)
            off += span
    if color_type == 0 and bit_depth < 8:
        # exact integer rescale to 8 bits: 255 is divisible by 1/3/15
        img = img * np.uint8(255 // ((1 << bit_depth) - 1))
    if color_type == 3:
        if palette is None:
            raise ValueError("palette image without PLTE")
        idx = img[:, :, 0]
        # a numpy IndexError here would violate the documented
        # malformed-stream ValueError contract
        if idx.size and int(idx.max()) >= len(palette):
            raise ValueError("palette index out of range")
        img = palette[idx]
    return img


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """(H, W[, C]) uint8 -> PNG bytes, filter 0, one IDAT.  C = 1 emits
    greyscale, 2 grey+alpha, 3 RGB, 4 RGBA — everything decode_png can
    return round-trips.  ``interlace=True`` emits the same pixels as an
    Adam7 stream: each of the seven spec §2.6 sub-images serialized as
    its own filter-0 scanline run (test fixtures for the interlaced
    decode path — real corpora contain Adam7 PNGs)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}.get(c)
    if color_type is None:
        raise ValueError(f"cannot encode {c}-channel image")
    if not interlace:
        body = np.zeros((h, w * c + 1), dtype=np.uint8)
        body[:, 1:] = img.reshape(h, w * c)
        raw = body.tobytes()
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            ph, pw = sub.shape[:2]
            if ph == 0 or pw == 0:
                continue
            body = np.zeros((ph, pw * c + 1), dtype=np.uint8)
            body[:, 1:] = sub.reshape(ph, pw * c)
            parts.append(body.tobytes())
        raw = b"".join(parts)
    idat = zlib.compress(raw, 6)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0,
                       1 if interlace else 0)
    return (PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b""))


def resize_nearest(img: np.ndarray, w: int, h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample: output pixel (y, x)
    samples source (y*H0//h, x*W0//w) — integer index math, no float
    kernels, so any reimplementation lands the identical pixels."""
    h0, w0 = img.shape[:2]
    ys = (np.arange(h) * h0) // h
    xs = (np.arange(w) * w0) // w
    return img[ys][:, xs]


def pixel_features(img: np.ndarray, dim: int = 16) -> list[float]:
    """Deterministic REAL pixel features, reproducible bit-for-bit by a
    pure-Python replica: every statistic is an INTEGER aggregate
    followed by exactly one IEEE division (integer sums below 2^53 are
    exact in float64, and a single division is correctly rounded — no
    accumulation-order ambiguity for an oracle to mismatch).

    Layout (dim >= 8): [w/4096, h/4096,
      mean_c/255, var_c/255² for c in 0..2 (channel index clamped)],
    then a (dim-8)-bin histogram of channel 0, each bin count / n_px.
    """
    h, w = img.shape[:2]
    if img.ndim == 2:
        img = img[:, :, None]
    c_max = img.shape[2] - 1
    n = h * w
    if n == 0:
        # a spec-legal zero-width/height PNG has no pixels: emit the
        # shape slots and zeros rather than dividing by zero
        return ([w / 4096.0, h / 4096.0] + [0.0] * dim)[:dim]
    feats: list[float] = [w / 4096.0, h / 4096.0]
    for c in range(3):
        band = img[:, :, min(c, c_max)].astype(np.int64)
        s = int(band.sum())
        q = int((band * band).sum())
        feats.append(s / (n * 255.0))
        feats.append((q * n - s * s) / (n * n * 65025.0))
    bins = max(dim - len(feats), 0)
    if bins:
        b0 = img[:, :, 0].astype(np.int64)
        idx = (b0 * bins) // 256
        counts = np.bincount(idx.ravel(), minlength=bins)
        feats.extend(int(counts[k]) / n for k in range(bins))
    return feats[:dim]
