"""Pure-stdlib BMP pixel codec (Windows BITMAPINFOHEADER): palette,
RLE and raw-pixel decode.

A pixel path next to PNG, JPEG and TIFF: `decode_bmp` returns an (H, W) uint8 grayscale (when the
palette is grey) or (H, W, 3) uint8 RGB array for the layouts that
dominate real corpora — uncompressed (BI_RGB) 1/4/8-bit palette,
24-bit BGR and 32-bit BGRX, plus RLE8/RLE4 (BI_RLE8/BI_RLE4 with
end-of-line, end-of-bitmap and delta escapes; the spec leaves skipped
pixels undefined, this decoder zero-fills them deterministically),
bottom-up and top-down row orders, 4-byte row padding, and masked
16/32-bit pixels — BI_RGB 16-bit (implicit 5-5-5) and BI_BITFIELDS /
BI_ALPHABITFIELDS with contiguous masks, each channel scaled to 8
bits by integer rounding — plus the OS/2 1.x BITMAPCOREHEADER layout
(12-byte header, RGBTRIPLE palette, always bottom-up BI_RGB).  The
OS/2 2.x header family and embedded PNG/JPEG (BI_PNG/BI_JPEG) raise
NotImplementedError (the documented degrade contract); malformed
streams raise ValueError — never an unguarded numpy/struct error
that could kill an Arrow task.

No dataflow stage decodes pixels, so this module is reached only from
tests.

Reference parity: the reference's pixel path is Tika+Tesseract on
uploaded images (geoparser_app/views.py:125; Docker/Dockerfile:33-36),
which handles BMP uploads; this module is the from-scratch stand-in,
not a port of anything.
"""

from __future__ import annotations

import struct

import numpy as np

BMP_SIG = b"BM"

_MAX_PIXELS = 64_000_000          # same bomb cap as gif/tiff codecs


def _rle_decode(data: bytes, w: int, h: int, four_bit: bool) -> np.ndarray:
    """BI_RLE8 / BI_RLE4 -> (h, w) uint8 palette indices (top row 0 is
    the BOTTOM scan line, as stored; caller flips).  Undefined SKIPPED
    pixels (delta/EOL gaps) are zero-filled deterministically; runs
    overflowing the row or bitmap, and streams ending without the
    end-of-bitmap escape, are corruption and raise ValueError."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = i = 0
    n = len(data)
    while i + 1 < n:
        cnt, val = data[i], data[i + 1]
        i += 2
        if cnt > 0:                       # encoded run
            if y >= h or cnt > w - x:
                raise ValueError("RLE run past row/bitmap end")
            if four_bit:
                pair = np.empty(cnt, dtype=np.uint8)
                pair[0::2] = val >> 4
                pair[1::2] = val & 0x0F
                out[y, x:x + cnt] = pair
            else:
                out[y, x:x + cnt] = val
            x += cnt
        elif val == 0:                    # end of line
            x, y = 0, y + 1
        elif val == 1:                    # end of bitmap
            return out
        elif val == 2:                    # delta
            if i + 1 >= n:
                raise ValueError("RLE delta truncated")
            x += data[i]
            y += data[i + 1]
            if x > w:
                raise ValueError("RLE delta past row end")
            i += 2
        else:                             # absolute mode: val literals
            if y >= h or val > w - x:
                raise ValueError("RLE absolute run past row/bitmap end")
            if four_bit:
                nbytes = (val + 1) // 2
                if i + nbytes > n:
                    raise ValueError("RLE absolute run truncated")
                raw = np.frombuffer(data[i:i + nbytes], dtype=np.uint8)
                nib = np.empty(nbytes * 2, dtype=np.uint8)
                nib[0::2] = raw >> 4
                nib[1::2] = raw & 0x0F
                out[y, x:x + val] = nib[:val]
                i += (nbytes + 1) & ~1    # word-aligned
            else:
                if i + val > n:
                    raise ValueError("RLE absolute run truncated")
                out[y, x:x + val] = np.frombuffer(
                    data[i:i + val], dtype=np.uint8)
                i += (val + 1) & ~1       # word-aligned
            x += val
    raise ValueError("RLE stream ended without end-of-bitmap")


def _mask_params(mask: int, bpp: int) -> tuple[int, int]:
    """Validate one BITFIELDS channel mask -> (shift, max value).
    Masks must be nonzero, contiguous, and inside the pixel width."""
    if mask == 0 or mask >> bpp:
        raise ValueError("BITFIELDS mask outside the pixel width")
    shift = (mask & -mask).bit_length() - 1
    maxv = mask >> shift
    if (maxv + 1) & maxv:
        raise ValueError("non-contiguous BITFIELDS mask")
    return shift, maxv


def _bitfields_decode(rows: np.ndarray, w: int, h: int, bpp: int,
                      masks: tuple) -> np.ndarray:
    """Masked 16/32-bit rows -> (h, w, 3) uint8 RGB.  Each channel
    extracts via its mask and scales to 8 bits by integer rounding
    ((v*255 + max//2) // max) — deterministic, exact for 8-bit-wide
    masks, monotone for narrower ones."""
    # uint64: a 30-bit mask's v*255 would wrap a uint32 accumulator
    px = rows[:, :w * (bpp // 8)].copy().view(
        "<u2" if bpp == 16 else "<u4").reshape(h, w).astype(np.uint64)
    chans = []
    for mask in masks:
        shift, maxv = _mask_params(int(mask), bpp)
        v = (px >> shift) & maxv
        chans.append(((v * 255 + maxv // 2) // maxv).astype(np.uint8))
    return np.stack(chans, axis=2)


def decode_bmp(raw: bytes) -> np.ndarray:
    """BMP bytes -> (H, W) uint8 grayscale (grey palette) or (H, W, 3)
    uint8 RGB.  See module docstring for coverage; malformed streams
    raise ValueError, unsupported-but-legal layouts NotImplementedError."""
    if raw[:2] != BMP_SIG or len(raw) < 26:
        raise ValueError("not a BMP stream")
    (data_off,) = struct.unpack("<I", raw[10:14])
    (hdr_size,) = struct.unpack("<I", raw[14:18])
    core = hdr_size == 12
    if core:                               # OS/2 1.x BITMAPCOREHEADER
        w, h, planes, bpp = struct.unpack("<HHHH", raw[18:26])
        # core bitmaps are always bottom-up BI_RGB with a 1/4/8/24
        # depth and RGBTRIPLE palette entries
        top_down = False
        compression = 0
        n_colors = 0
        if bpp not in (1, 4, 8, 24):
            raise ValueError(f"illegal OS/2 core bit depth {bpp}")
    elif hdr_size < 40:
        raise NotImplementedError(
            f"BMP header size {hdr_size} (OS/2 2.x family)")
    else:
        if len(raw) < 54:
            raise ValueError("BMP info header past end of stream")
        w, h_signed = struct.unpack("<ii", raw[18:26])
        planes, bpp = struct.unpack("<HH", raw[26:30])
        (compression,) = struct.unpack("<I", raw[30:34])
        n_colors = struct.unpack("<I", raw[46:50])[0]
        top_down = h_signed < 0
        h = -h_signed if top_down else h_signed
        if hdr_size == 64 and compression >= 3:
            # the 64-byte OS/2 2.x header shares BITMAPINFOHEADER's
            # first 40 bytes, but its compression codes 3/4 mean
            # Huffman-1D / RLE24, not BITFIELDS
            raise NotImplementedError(
                "OS/2 2.x Huffman-1D / RLE24 compression")
    if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
        raise ValueError("image dimensions out of range")
    if planes != 1:
        raise ValueError(f"planes must be 1, got {planes}")
    if compression in (4, 5):
        raise NotImplementedError("embedded JPEG/PNG payload (BI_JPEG/PNG)")
    if compression not in (0, 1, 2, 3, 6):
        raise ValueError(f"unknown compression {compression}")
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise ValueError(f"illegal bit depth {bpp}")
    masks = None
    if compression in (3, 6):                  # BI_(ALPHA)BITFIELDS
        if bpp not in (16, 32):
            raise ValueError("BITFIELDS requires 16- or 32-bit pixels")
        # the three RGB masks sit at absolute offset 54 in both layouts:
        # appended after a 40-byte BITMAPINFOHEADER, or as the first
        # mask fields of a V2+/V4/V5 header (header-relative 40)
        if len(raw) < 66:
            raise ValueError("BITFIELDS masks past end of stream")
        masks = struct.unpack("<III", raw[54:66])
    elif bpp == 16:                            # BI_RGB 16-bit: 5-5-5
        masks = (0x7C00, 0x03E0, 0x001F)
    if compression == 1 and bpp != 8:
        raise ValueError("BI_RLE8 requires 8-bit pixels")
    if compression == 2 and bpp != 4:
        raise ValueError("BI_RLE4 requires 4-bit pixels")

    palette = None
    if bpp <= 8:
        n_colors = n_colors or (1 << bpp)
        if n_colors > (1 << bpp):
            raise ValueError("palette larger than the depth allows")
        pal_off = 14 + hdr_size
        entry = 3 if core else 4           # RGBTRIPLE vs RGBQUAD
        if pal_off + entry * n_colors > len(raw):
            raise ValueError("palette past end of stream")
        quads = np.frombuffer(
            raw[pal_off:pal_off + entry * n_colors], dtype=np.uint8
        ).reshape(n_colors, entry)
        palette = quads[:, [2, 1, 0]].copy()   # BGR(X) -> RGB

    if data_off > len(raw):
        raise ValueError("pixel data offset past end of stream")
    data = raw[data_off:]

    if compression in (1, 2):                  # RLE: stored bottom-up
        idx = _rle_decode(data, w, h, four_bit=(compression == 2))
        idx = idx if top_down else idx[::-1]
    else:
        stride = ((w * bpp + 31) // 32) * 4    # rows pad to 4 bytes
        need = stride * h
        if len(data) < need:
            raise ValueError("pixel data truncated")
        rows = np.frombuffer(data[:need], dtype=np.uint8).reshape(h, stride)
        rows = rows if top_down else rows[::-1]
        if masks is not None:
            return _bitfields_decode(rows, w, h, bpp, masks)
        if bpp == 24:
            px = rows[:, :w * 3].reshape(h, w, 3)[:, :, ::-1].copy()
            return px
        if bpp == 32:
            px = rows[:, :w * 4].reshape(h, w, 4)[:, :, [2, 1, 0]].copy()
            return px
        if bpp == 8:
            idx = rows[:, :w].copy()
        else:                                  # 1- or 4-bit, MSB first
            unpacked = np.unpackbits(rows, axis=1)[:, :w * bpp]
            weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint8)
            idx = (unpacked.reshape(h, w, bpp)
                   * weights).sum(axis=2).astype(np.uint8)

    if int(idx.max()) >= len(palette):
        raise ValueError("palette index out of range")
    # collapse keyed on the PALETTE (as documented), not the pixels, so
    # two files with the same palette always decode to the same rank
    if (palette[:, 0] == palette[:, 1]).all() and \
            (palette[:, 1] == palette[:, 2]).all():
        return palette[idx, 0].copy()          # grey palette -> grayscale
    return palette[idx]


# -------------------------------------------------------------- encoder
# Fixture encoder (like the other codecs): tests pin decode exactness
# without any third-party imagery.

def _rle8_encode(idx: np.ndarray) -> bytes:
    """Rows as stored (bottom-up handled by caller): encoded runs +
    end-of-line / end-of-bitmap escapes."""
    out = bytearray()
    h, w = idx.shape
    for y in range(h):
        x = 0
        while x < w:
            run = 1
            while x + run < w and run < 255 and idx[y, x + run] == idx[y, x]:
                run += 1
            out += bytes([run, int(idx[y, x])])
            x += run
        out += b"\x00\x00"                     # end of line
    out += b"\x00\x01"                         # end of bitmap
    return bytes(out)


def encode_bmp(img: np.ndarray, bpp: int = 24,
               palette: np.ndarray | None = None,
               rle: bool = False, top_down: bool = False,
               masks: tuple | None = None,
               core_header: bool = False) -> bytes:
    """(H, W[, 3]) array -> BMP bytes.  24-bit BGR (3-D input), 32-bit
    BGRX, 16-bit masked (BI_RGB 5-5-5 by default, or BI_BITFIELDS with
    explicit ``masks=(r, g, b)`` — each 8-bit channel quantizes by
    integer rounding (v*max + 127) // 255), or palette 1/4/8-bit (2-D
    index input + (N, 3) uint8 ``palette`` — defaults to the identity
    grey ramp for 8-bit); ``rle`` emits BI_RLE8 (8-bit only);
    ``core_header`` emits the OS/2 1.x BITMAPCOREHEADER layout
    (bottom-up BI_RGB 1/4/8/24 with RGBTRIPLE palette entries)."""
    img = np.asarray(img)
    h, w = img.shape[:2]
    if masks is not None and (bpp != 16 or len(masks) != 3):
        raise ValueError("masks= is the 16-bit BITFIELDS path and "
                         "needs exactly three RGB masks")
    if core_header and (rle or top_down or masks is not None
                        or bpp not in (1, 4, 8, 24)):
        raise ValueError("OS/2 core header is bottom-up BI_RGB "
                         "1/4/8/24 only")
    if (bpp > 8) != (img.ndim == 3):
        raise ValueError("truecolor bpp needs (H, W, 3) input; "
                         "palette bpp needs (H, W) indices")
    if bpp <= 8:
        if palette is None:
            palette = np.stack([np.arange(1 << bpp, dtype=np.uint8)] * 3,
                               axis=1) if bpp == 8 else None
        if palette is None:
            raise ValueError("sub-8-bit BMP needs an explicit palette")
        entry = 3 if core_header else 4
        quads = np.zeros((1 << bpp, entry), dtype=np.uint8)
        quads[:len(palette), [2, 1, 0]] = palette
        pal_bytes = quads.tobytes()
    else:
        pal_bytes = b""

    if rle:
        if bpp != 8:
            raise ValueError("RLE fixture encoder is 8-bit only")
        rows = img if top_down else img[::-1]
        body = _rle8_encode(rows.astype(np.uint8))
        compression = 1
    else:
        stride = ((w * bpp + 31) // 32) * 4
        rows = np.zeros((h, stride), dtype=np.uint8)
        src = img if top_down else img[::-1]
        if bpp == 24:
            rows[:, :w * 3] = src[:, :, ::-1].reshape(h, w * 3)
        elif bpp == 32:
            bgrx = np.zeros((h, w, 4), dtype=np.uint8)
            bgrx[:, :, [2, 1, 0]] = src
            rows[:, :w * 4] = bgrx.reshape(h, w * 4)
        elif bpp == 16:
            use = masks or (0x7C00, 0x03E0, 0x001F)
            px = np.zeros((h, w), dtype=np.uint16)
            for c, mask in enumerate(use):
                shift, maxv = _mask_params(int(mask), 16)
                q = (src[:, :, c].astype(np.uint32) * maxv + 127) // 255
                px |= (q << shift).astype(np.uint16)
            rows[:, :w * 2] = px.astype("<u2").view(np.uint8).reshape(
                h, w * 2)
        elif bpp == 8:
            rows[:, :w] = src
        else:
            for y in range(h):
                bitstream = np.zeros(w * bpp, dtype=np.uint8)
                for k in range(bpp):
                    bitstream[k::bpp] = (src[y] >> (bpp - 1 - k)) & 1
                packed = np.packbits(bitstream, bitorder="big")
                rows[y, :len(packed)] = packed
        body = rows.tobytes()
        compression = 3 if (masks is not None and bpp == 16) else 0

    mask_bytes = (struct.pack("<III", *masks)
                  if compression == 3 else b"")
    if core_header:
        data_off = 14 + 12 + len(pal_bytes)
        info = struct.pack("<IHHHH", 12, w, h, 1, bpp)
    else:
        data_off = 14 + 40 + len(mask_bytes) + len(pal_bytes)
        info = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h,
                           1, bpp, compression, len(body), 2835, 2835,
                           (1 << bpp) if bpp <= 8 else 0, 0)
    hdr = struct.pack("<2sIHHI", BMP_SIG, data_off + len(body),
                      0, 0, data_off)
    return hdr + info + mask_bytes + pal_bytes + body
