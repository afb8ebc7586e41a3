"""CCITT fax decode/encode for bilevel TIFF — pure stdlib+numpy.

Implements the three TIFF 6.0 fax compressions from the public specs
(ITU-T T.4 for the Modified Huffman run-length codes and Group 3, ITU-T
T.6 for Group 4 MMR; TIFF 6.0 sections 10-11 for the container
contract):

* compression 2 — "CCITT 1D" Modified Huffman: every row coded
  independently as alternating white/black run lengths (white first,
  possibly zero-length), each row starting on a byte boundary, no EOL
  codes (TIFF 6.0 §10).
* compression 3 — Group 3 T.4: an EOL code (000000000001, optionally
  preceded by zero fill bits) before every row; 1-D rows only
  (2-D-extended G3, T4Options bit 0, raises NotImplementedError in
  tiff_codec — real scanned corpora overwhelmingly use G4 for 2-D).
* compression 4 — Group 4 T.6 MMR: pure 2-D coding against the row
  above (vertical/horizontal/pass modes), reference line starting as
  the imaginary all-white row; the optional EOFB terminator is simply
  left unread (TIFF 6.0 §11 says writers "should not" emit it).

Decoders return an (nrows, w) uint8 array with 1 = BLACK pixel — the
CCITT codes carry real colors, independent of PhotometricInterpretation
(tiff_codec maps colors to luminance and applies the photometric-1
inversion, mirroring libtiff's handling). Malformed streams raise
ValueError, never an unguarded struct/index error that could kill an
Arrow task; every run and mode transition is validated against the row
width so a crafted stream cannot loop or expand output.

The per-run Python loops are the same fixture-scale trade the Huffman
path in operators/jpeg_codec makes: payload decode happens inside
Arrow-batched kernels where per-payload work IS the job.

Reference behavior being re-expressed: the GeoParser stack hands any
scanned/fax TIFF to Tika for text+metadata extraction
(/root/reference/geoparser_app/views.py:125); this module gives the
Spark-side extract stage real pixels for the same family.

Internal representation: each row is a list of CHANGE POSITIONS —
pixel indices where the color differs from the pixel to the left (the
pixel left of position 0 is imaginary white), exactly T.4/T.6's
"changing elements". Even list index = change to black. A change
recorded at exactly ``w`` (a run ending on the right edge) is
tolerated: any b1/b2 lookup landing on it yields ``w``, the same value
the sentinel default produces.
"""

from __future__ import annotations

import numpy as np

_MAX_PIXELS = 64_000_000          # same bomb cap as tiff_codec

# --------------------------------------------------------------- tables
# ITU-T T.4 terminating + makeup codes as (run, code, bit-length).
# Extended makeups (1792-2560) are shared between the two colors.

_WHITE = [
    (0, 0b00110101, 8), (1, 0b000111, 6), (2, 0b0111, 4), (3, 0b1000, 4),
    (4, 0b1011, 4), (5, 0b1100, 4), (6, 0b1110, 4), (7, 0b1111, 4),
    (8, 0b10011, 5), (9, 0b10100, 5), (10, 0b00111, 5), (11, 0b01000, 5),
    (12, 0b001000, 6), (13, 0b000011, 6), (14, 0b110100, 6),
    (15, 0b110101, 6), (16, 0b101010, 6), (17, 0b101011, 6),
    (18, 0b0100111, 7), (19, 0b0001100, 7), (20, 0b0001000, 7),
    (21, 0b0010111, 7), (22, 0b0000011, 7), (23, 0b0000100, 7),
    (24, 0b0101000, 7), (25, 0b0101011, 7), (26, 0b0010011, 7),
    (27, 0b0100100, 7), (28, 0b0011000, 7), (29, 0b00000010, 8),
    (30, 0b00000011, 8), (31, 0b00011010, 8), (32, 0b00011011, 8),
    (33, 0b00010010, 8), (34, 0b00010011, 8), (35, 0b00010100, 8),
    (36, 0b00010101, 8), (37, 0b00010110, 8), (38, 0b00010111, 8),
    (39, 0b00101000, 8), (40, 0b00101001, 8), (41, 0b00101010, 8),
    (42, 0b00101011, 8), (43, 0b00101100, 8), (44, 0b00101101, 8),
    (45, 0b00000100, 8), (46, 0b00000101, 8), (47, 0b00001010, 8),
    (48, 0b00001011, 8), (49, 0b01010010, 8), (50, 0b01010011, 8),
    (51, 0b01010100, 8), (52, 0b01010101, 8), (53, 0b00100100, 8),
    (54, 0b00100101, 8), (55, 0b01011000, 8), (56, 0b01011001, 8),
    (57, 0b01011010, 8), (58, 0b01011011, 8), (59, 0b01001010, 8),
    (60, 0b01001011, 8), (61, 0b00110010, 8), (62, 0b00110011, 8),
    (63, 0b00110100, 8),
    # makeups
    (64, 0b11011, 5), (128, 0b10010, 5), (192, 0b010111, 6),
    (256, 0b0110111, 7), (320, 0b00110110, 8), (384, 0b00110111, 8),
    (448, 0b01100100, 8), (512, 0b01100101, 8), (576, 0b01101000, 8),
    (640, 0b01100111, 8), (704, 0b011001100, 9), (768, 0b011001101, 9),
    (832, 0b011010010, 9), (896, 0b011010011, 9), (960, 0b011010100, 9),
    (1024, 0b011010101, 9), (1088, 0b011010110, 9),
    (1152, 0b011010111, 9), (1216, 0b011011000, 9),
    (1280, 0b011011001, 9), (1344, 0b011011010, 9),
    (1408, 0b011011011, 9), (1472, 0b010011000, 9),
    (1536, 0b010011001, 9), (1600, 0b010011010, 9),
    (1664, 0b011000, 6), (1728, 0b010011011, 9),
]

_BLACK = [
    (0, 0b0000110111, 10), (1, 0b010, 3), (2, 0b11, 2), (3, 0b10, 2),
    (4, 0b011, 3), (5, 0b0011, 4), (6, 0b0010, 4), (7, 0b00011, 5),
    (8, 0b000101, 6), (9, 0b000100, 6), (10, 0b0000100, 7),
    (11, 0b0000101, 7), (12, 0b0000111, 7), (13, 0b00000100, 8),
    (14, 0b00000111, 8), (15, 0b000011000, 9), (16, 0b0000010111, 10),
    (17, 0b0000011000, 10), (18, 0b0000001000, 10),
    (19, 0b00001100111, 11), (20, 0b00001101000, 11),
    (21, 0b00001101100, 11), (22, 0b00000110111, 11),
    (23, 0b00000101000, 11), (24, 0b00000010111, 11),
    (25, 0b00000011000, 11), (26, 0b000011001010, 12),
    (27, 0b000011001011, 12), (28, 0b000011001100, 12),
    (29, 0b000011001101, 12), (30, 0b000001101000, 12),
    (31, 0b000001101001, 12), (32, 0b000001101010, 12),
    (33, 0b000001101011, 12), (34, 0b000011010010, 12),
    (35, 0b000011010011, 12), (36, 0b000011010100, 12),
    (37, 0b000011010101, 12), (38, 0b000011010110, 12),
    (39, 0b000011010111, 12), (40, 0b000001101100, 12),
    (41, 0b000001101101, 12), (42, 0b000011011010, 12),
    (43, 0b000011011011, 12), (44, 0b000001010100, 12),
    (45, 0b000001010101, 12), (46, 0b000001010110, 12),
    (47, 0b000001010111, 12), (48, 0b000001100100, 12),
    (49, 0b000001100101, 12), (50, 0b000001010010, 12),
    (51, 0b000001010011, 12), (52, 0b000000100100, 12),
    (53, 0b000000110111, 12), (54, 0b000000111000, 12),
    (55, 0b000000100111, 12), (56, 0b000000101000, 12),
    (57, 0b000001011000, 12), (58, 0b000001011001, 12),
    (59, 0b000000101011, 12), (60, 0b000000101100, 12),
    (61, 0b000001011010, 12), (62, 0b000001100110, 12),
    (63, 0b000001100111, 12),
    # makeups
    (64, 0b0000001111, 10), (128, 0b000011001000, 12),
    (192, 0b000011001001, 12), (256, 0b000001011011, 12),
    (320, 0b000000110011, 12), (384, 0b000000110100, 12),
    (448, 0b000000110101, 12), (512, 0b0000001101100, 13),
    (576, 0b0000001101101, 13), (640, 0b0000001001010, 13),
    (704, 0b0000001001011, 13), (768, 0b0000001001100, 13),
    (832, 0b0000001001101, 13), (896, 0b0000001110010, 13),
    (960, 0b0000001110011, 13), (1024, 0b0000001110100, 13),
    (1088, 0b0000001110101, 13), (1152, 0b0000001110110, 13),
    (1216, 0b0000001110111, 13), (1280, 0b0000001010010, 13),
    (1344, 0b0000001010011, 13), (1408, 0b0000001010100, 13),
    (1472, 0b0000001010101, 13), (1536, 0b0000001011010, 13),
    (1600, 0b0000001011011, 13), (1664, 0b0000001100100, 13),
    (1728, 0b0000001100101, 13),
]

_EXT = [
    (1792, 0b00000001000, 11), (1856, 0b00000001100, 11),
    (1920, 0b00000001101, 11), (1984, 0b000000010010, 12),
    (2048, 0b000000010011, 12), (2112, 0b000000010100, 12),
    (2176, 0b000000010101, 12), (2240, 0b000000010110, 12),
    (2304, 0b000000010111, 12), (2368, 0b000000011100, 12),
    (2432, 0b000000011101, 12), (2496, 0b000000011110, 12),
    (2560, 0b000000011111, 12),
]

_EOL = (0b000000000001, 12)
_MAX_CODE_LEN = 13

# decode: {(length, code) -> run}; encode: run -> (code, length)
_WHITE_DEC = {(ln, c): r for r, c, ln in _WHITE + _EXT}
_BLACK_DEC = {(ln, c): r for r, c, ln in _BLACK + _EXT}
_WHITE_TERM_ENC = {r: (c, ln) for r, c, ln in _WHITE if r < 64}
_BLACK_TERM_ENC = {r: (c, ln) for r, c, ln in _BLACK if r < 64}
_WHITE_MK_ENC = {r: (c, ln) for r, c, ln in _WHITE + _EXT if r >= 64}
_BLACK_MK_ENC = {r: (c, ln) for r, c, ln in _BLACK + _EXT if r >= 64}


class _BitReader:
    """MSB-first bit reader; over-reads raise ValueError."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0                           # bit position

    def bits_left(self) -> int:
        return len(self.data) * 8 - self.pos

    def peek(self, n: int) -> int:
        """Next n bits, zero-padded past the end of data (byte-wise:
        one int.from_bytes, not a per-bit loop — this sits on the hot
        Arrow decode path)."""
        p = self.pos
        off = p & 7
        chunk = self.data[p >> 3:(p + n + 7) >> 3]
        if not chunk:
            return 0
        have = len(chunk) * 8 - off
        v = int.from_bytes(chunk, "big") & ((1 << have) - 1)
        return v >> (have - n) if have >= n else v << (n - have)

    def skip(self, n: int) -> None:
        self.pos += n

    def read(self, n: int) -> int:
        if self.bits_left() < n:
            raise ValueError("CCITT stream truncated")
        v = self.peek(n)
        self.pos += n
        return v

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _read_run(br: _BitReader, black: bool) -> int:
    """One full run length: zero or more makeup codes then exactly one
    terminating code (T.4 §4.2.1.1).  Both tables are prefix codes, so
    the shortest match is THE match."""
    table = _BLACK_DEC if black else _WHITE_DEC
    total = 0
    while True:
        run = None
        left = br.bits_left()
        window = br.peek(_MAX_CODE_LEN)    # one peek; slice per length
        for ln in range(2, _MAX_CODE_LEN + 1):
            if ln > left:
                break
            cand = table.get((ln, window >> (_MAX_CODE_LEN - ln)))
            if cand is not None:
                br.skip(ln)
                run = cand
                break
        if run is None:
            raise ValueError("invalid or truncated CCITT run code")
        if run < 64:
            return total + run
        total += run                   # makeup: a terminating code follows


def _decode_mh_row(br: _BitReader, w: int) -> list[int]:
    """One Modified-Huffman row -> change positions (white run first,
    possibly zero-length).  A crafted zero-length mid-row run yields a
    duplicated position — net-zero paint, parity preserved."""
    trans: list[int] = []
    pos = 0
    black = False
    while pos < w:
        run = _read_run(br, black)
        pos += run
        if pos > w:
            raise ValueError("CCITT run overflows row width")
        if pos < w:
            trans.append(pos)
        black = not black
    return trans


def _rows_to_array(all_trans: list[list[int]], w: int) -> np.ndarray:
    """Change-position lists -> (nrows, w) uint8 with 1 = black."""
    out = np.zeros((len(all_trans), w), dtype=np.uint8)
    for y, trans in enumerate(all_trans):
        color = 0
        prev = 0
        for t in trans:
            if color:
                out[y, prev:t] = 1
            prev = t
            color ^= 1
        if color:
            out[y, prev:] = 1
    return out


def _check_dims(w: int, nrows: int) -> None:
    if w <= 0 or nrows <= 0 or w * nrows > _MAX_PIXELS:
        raise ValueError("CCITT image dimensions out of range")


def decode_mh(data: bytes, w: int, nrows: int) -> np.ndarray:
    """TIFF compression 2: MH rows, each starting on a byte boundary,
    no EOLs. -> (nrows, w) uint8, 1 = black."""
    _check_dims(w, nrows)
    br = _BitReader(data)
    rows = []
    for _ in range(nrows):
        br.align()
        rows.append(_decode_mh_row(br, w))
    return _rows_to_array(rows, w)


def _expect_eol(br: _BitReader) -> None:
    """Consume optional zero fill bits then one EOL (T.4 §4.1.2)."""
    fill = 0
    while True:
        if br.bits_left() < 12:
            raise ValueError("CCITT stream ended while seeking EOL")
        if br.peek(12) == _EOL[0]:
            br.skip(12)
            return
        if br.read(1) != 0:
            raise ValueError("nonzero fill bit before EOL")
        fill += 1
        if fill > 4096:
            raise ValueError("EOL fill run out of range")


def decode_g3_1d(data: bytes, w: int, nrows: int) -> np.ndarray:
    """TIFF compression 3, 1-D mode (T4Options bit 0 clear): an EOL
    before every row, MH-coded rows. -> (nrows, w) uint8, 1 = black."""
    _check_dims(w, nrows)
    br = _BitReader(data)
    rows = []
    for _ in range(nrows):
        _expect_eol(br)
        rows.append(_decode_mh_row(br, w))
    return _rows_to_array(rows, w)


# ----------------------------------------------------------------- T.6

def _find_b1_b2(ref: list[int], a0: int, color: int, w: int,
                start: int = 0) -> tuple[int, int, int]:
    """T.6's (b1, b2): the first changing element on the reference line
    strictly right of a0 that changes TO the color opposite ``color``
    (even index = change to black), and the element after it; ``w``
    substitutes for elements past the end.

    ``start`` is a resume hint: a0 only moves right within a row, so
    callers pass the previous call's returned base index and the whole
    row costs O(changes), not O(changes^2) — without the hint a crafted
    wide dense row could pin a CPU for hours inside an Arrow kernel
    (the anti-DoS contract above).  Returns (b1, b2, base) where base
    is the next call's hint."""
    i = start
    n = len(ref)
    while i < n and ref[i] <= a0:
        i += 1
    base = i
    if (i & 1) != color:
        i += 1
    b1 = ref[i] if i < n else w
    b2 = ref[i + 1] if i + 1 < n else w
    return b1, b2, base


_VERTICAL_ENC = {0: (0b1, 1), 1: (0b011, 3), 2: (0b000011, 6),
                 3: (0b0000011, 7), -1: (0b010, 3), -2: (0b000010, 6),
                 -3: (0b0000010, 7)}


def decode_g4(data: bytes, w: int, nrows: int) -> np.ndarray:
    """TIFF compression 4 (T.6 MMR). -> (nrows, w) uint8, 1 = black.

    Reference line starts as the imaginary all-white row.  Decodes
    exactly ``nrows`` rows and leaves any trailing EOFB unread."""
    _check_dims(w, nrows)
    br = _BitReader(data)
    ref: list[int] = []                    # all-white imaginary row
    rows: list[list[int]] = []
    for _ in range(nrows):
        cur: list[int] = []
        a0 = -1
        color = 0
        hint = 0
        while True:
            b1, b2, hint = _find_b1_b2(ref, a0, color, w, hint)
            if br.read(1) == 1:            # 1 = V0
                a1 = b1
            else:
                code2 = br.read(2)
                if code2 == 0b11:          # 011 = VR1
                    a1 = b1 + 1
                elif code2 == 0b10:        # 010 = VL1
                    a1 = b1 - 1
                elif code2 == 0b01:        # 001 = Horizontal
                    base = max(a0, 0)
                    r1 = _read_run(br, bool(color))
                    r2 = _read_run(br, not bool(color))
                    a1, a2 = base + r1, base + r1 + r2
                    if not (a0 < a1 <= a2 <= w):
                        raise ValueError("G4 horizontal runs out of range")
                    cur.append(a1)
                    if a2 > a1:
                        cur.append(a2)
                    else:
                        cur.pop()          # zero 2nd run: net-zero change
                    a0 = a2                # color unchanged
                    if a0 >= w:
                        break
                    continue
                elif br.read(1) == 1:      # 0001 = Pass
                    if b2 <= a0:
                        raise ValueError("G4 pass mode not advancing")
                    a0 = b2                # color unchanged, no change rec
                    if a0 >= w:
                        break
                    continue
                else:                      # 00000...
                    tail = br.read(2)
                    if tail == 0b11:       # 000011 = VR2
                        a1 = b1 + 2
                    elif tail == 0b10:     # 000010 = VL2
                        a1 = b1 - 2
                    elif tail == 0b01:     # 0000011/0000010 = VR3/VL3
                        a1 = b1 + 3 if br.read(1) else b1 - 3
                    else:
                        raise ValueError("invalid G4 mode code")
            # all vertical modes land here
            if not (a0 < a1 <= w):
                raise ValueError("G4 vertical mode out of range")
            cur.append(a1)
            a0 = a1
            color ^= 1
            if a0 >= w:
                break
        rows.append(cur)
        ref = cur
    return _rows_to_array(rows, w)


# -------------------------------------------------------------- encoder
# Fixture encoders (same role as tiff_codec._lzw_encode): tests pin
# decode exactness without any third-party imagery.

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def emit(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.emit(0, 8 - self.nbits)

    def getvalue(self) -> bytes:
        tail = bytes([(self.acc << (8 - self.nbits)) & 0xFF]
                     ) if self.nbits else b""
        return bytes(self.out) + tail


def _emit_run(bw: _BitWriter, run: int, black: bool) -> None:
    """Makeup codes (2560s first for runs past the table) + one
    terminating code."""
    term = _BLACK_TERM_ENC if black else _WHITE_TERM_ENC
    mk = _BLACK_MK_ENC if black else _WHITE_MK_ENC
    while run > 2623:                      # 2560 + 63
        bw.emit(*mk[2560])
        run -= 2560
    if run >= 64:
        m = (run // 64) * 64
        bw.emit(*mk[m])
        run -= m
    bw.emit(*term[run])


def _changes(row: np.ndarray) -> list[int]:
    """Change positions of a boolean row (imaginary white at left)."""
    ext = np.concatenate(([False], row))
    return [int(p) for p in np.flatnonzero(ext[1:] != ext[:-1])]


def encode_ccitt(black: np.ndarray, compression: int) -> bytes:
    """(H, W) array (nonzero = black pixel) -> CCITT bytes for TIFF
    ``compression`` 2 (MH, byte-aligned rows), 3 (G3 1-D, EOL before
    every row) or 4 (G4 MMR + EOFB terminator)."""
    black = np.asarray(black) != 0
    if black.ndim != 2:
        raise ValueError("CCITT input must be a 2-D bilevel array")
    h, w = black.shape
    _check_dims(w, h)
    bw = _BitWriter()

    if compression in (2, 3):
        for y in range(h):
            if compression == 3:
                bw.emit(*_EOL)
            else:
                bw.align()
            pos = 0
            is_black = False
            for t in _changes(black[y]) + [w]:
                _emit_run(bw, t - pos, is_black)
                pos = t
                is_black = not is_black
                if pos >= w:
                    break
        return bw.getvalue()
    if compression != 4:
        raise ValueError(f"not a CCITT compression: {compression}")

    ref: list[int] = []
    for y in range(h):
        cur = _changes(black[y])
        a0 = -1
        color = 0
        ci = 0                             # index of the next a1 in cur
        hint = 0
        while a0 < w:
            a1 = cur[ci] if ci < len(cur) else w
            b1, b2, hint = _find_b1_b2(ref, a0, color, w, hint)
            if b2 < a1:                    # pass
                bw.emit(0b0001, 4)
                a0 = b2
            elif -3 <= a1 - b1 <= 3:       # vertical
                bw.emit(*_VERTICAL_ENC[a1 - b1])
                a0 = a1
                ci += 1
                color ^= 1
                if a0 >= w:
                    break
            else:                          # horizontal
                a2 = cur[ci + 1] if ci + 1 < len(cur) else w
                base = max(a0, 0)
                bw.emit(0b001, 3)
                _emit_run(bw, a1 - base, bool(color))
                _emit_run(bw, a2 - a1, not bool(color))
                a0 = a2
                ci += 2
                if a0 >= w:
                    break
        ref = cur
    bw.emit(*_EOL)                         # EOFB = two EOLs
    bw.emit(*_EOL)
    return bw.getvalue()
