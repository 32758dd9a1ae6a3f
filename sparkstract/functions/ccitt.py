"""CCITT fax codecs for bilevel TIFF strips: Group 4 (ITU-T T.6, "MMR",
compression 4), Group 3 (T.4, compression 3, 1D and 2D rows), and modified
Huffman (compression 2).

Group 4 is THE compression of archival document scans — Leptonica reads it
natively so the reference ingests G4 TIFFs through the same SetImage seam
as everything else (/root/reference/src/api/baseapi.cpp:881,906; multipage
fax files via ProcessPagesMultipageTiff baseapi.cpp:1657). Without it, a
user pointing the pipeline at a real scan archive fails on document one.
Like the sibling codecs (png.py, jpeg.py, gif.py) this is a from-scratch
pure-python implementation — the container has no image libraries, and the
point is that the media column carries genuine G4-encoded bytes through the
Arrow/mapInPandas plumbing.

T.6 codes each row against the row above as a sequence of pass / vertical /
horizontal modes over "changing elements" (positions where the pixel color
flips); horizontal mode falls back to the T.4 modified-Huffman run-length
alphabet (separate white/black code tables, makeup + terminating codes).
There are no per-row EOL codes in G4; an optional EOFB ends the strip.
Each TIFF strip is an independent T.6 block (the reference line resets to
all-white), so RowsPerStrip-sized units decode in parallel.

Bomb/hang guards: decode output is exactly h rows of w pixels (the caller
knows both from the IFD), every mode must advance the coding position, and
run/mode codes are length-capped — malformed input raises instead of
looping or allocating.

Mirror encoders (G4, G3, MH): sparkstract/fixtures/encoders/ccitt.py.
"""

from __future__ import annotations

from bisect import bisect_right

import numpy as np

# ITU-T T.4 §2.2.2.1 white run-length codes (terminating 0-63).
_WHITE_TERM = [
    "00110101", "000111", "0111", "1000", "1011", "1100", "1110", "1111",
    "10011", "10100", "00111", "01000", "001000", "000011", "110100",
    "110101", "101010", "101011", "0100111", "0001100", "0001000",
    "0010111", "0000011", "0000100", "0101000", "0101011", "0010011",
    "0100100", "0011000", "00000010", "00000011", "00011010", "00011011",
    "00010010", "00010011", "00010100", "00010101", "00010110", "00010111",
    "00101000", "00101001", "00101010", "00101011", "00101100", "00101101",
    "00000100", "00000101", "00001010", "00001011", "01010010", "01010011",
    "01010100", "01010101", "00100100", "00100101", "01011000", "01011001",
    "01011010", "01011011", "01001010", "01001011", "00110010", "00110011",
    "00110100",
]

# T.4 white makeup codes (64-1728, step 64).
_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100", 768: "011001101",
    832: "011010010", 896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}

# T.4 §2.2.2.2 black run-length codes (terminating 0-63).
_BLACK_TERM = [
    "0000110111", "010", "11", "10", "011", "0011", "0010", "00011",
    "000101", "000100", "0000100", "0000101", "0000111", "00000100",
    "00000111", "000011000", "0000010111", "0000011000", "0000001000",
    "00001100111", "00001101000", "00001101100", "00000110111",
    "00000101000", "00000010111", "00000011000", "000011001010",
    "000011001011", "000011001100", "000011001101", "000001101000",
    "000001101001", "000001101010", "000001101011", "000011010010",
    "000011010011", "000011010100", "000011010101", "000011010110",
    "000011010111", "000001101100", "000001101101", "000011011010",
    "000011011011", "000001010100", "000001010101", "000001010110",
    "000001010111", "000001100100", "000001100101", "000001010010",
    "000001010011", "000000100100", "000000110111", "000000111000",
    "000000100111", "000000101000", "000001011000", "000001011001",
    "000000101011", "000000101100", "000001011010", "000001100110",
    "000001100111",
]

# T.4 black makeup codes (64-1728).
_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

# T.4 §2.2.2.3 extended makeup codes (shared by both colors, 1792-2560).
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}


_MAKEUP = (
    {**_WHITE_MAKEUP, **_EXT_MAKEUP},   # color 0 = white
    {**_BLACK_MAKEUP, **_EXT_MAKEUP},   # color 1 = black
)
_TERM = (_WHITE_TERM, _BLACK_TERM)


def _b1_b2(ref: list[int], a0: int, color: int, w: int) -> tuple[int, int]:
    """b1 = first reference-line change right of a0 whose transition is to
    the opposite of the current color (even index = white->black), b2 = the
    change after it; w when exhausted."""
    i = bisect_right(ref, a0)
    if (i & 1) != color:
        i += 1
    b1 = ref[i] if i < len(ref) else w
    b2 = ref[i + 1] if i + 1 < len(ref) else w
    return b1, b2


class _FaxBits:
    """Bit-position reader with zero-padded lookahead — the decode side
    runs on table lookups over `peek`, not per-bit reads, because a 100 TB
    scan corpus pays this loop on every page."""

    __slots__ = ("_data", "_nbits", "bit")

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._nbits = len(data) * 8
        self.bit = 0

    def peek(self, width: int) -> int:
        """Next `width` bits without consuming, zero-padded past the end
        (padding zeros read as the EOL region, which every caller treats
        as end-of-stream — matching the old exhaustion behavior)."""
        b = self.bit
        chunk = self._data[b >> 3 : (b + width + 7) >> 3]
        have = (len(chunk) << 3) - (b & 7)
        v = int.from_bytes(chunk, "big") & ((1 << have) - 1) if chunk else 0
        if have >= width:
            return v >> (have - width)
        return v << (width - have)

    def skip(self, n: int) -> None:
        self.bit += n

    def read1(self) -> int | None:
        if self.bit >= self._nbits:
            return None
        byte = self._data[self.bit >> 3]
        v = (byte >> (7 - (self.bit & 7))) & 1
        self.bit += 1
        return v

    def align_byte(self) -> None:
        self.bit = (self.bit + 7) & ~7


# 7-bit peek -> (mode, nbits); "EOL" for the 0000000 region (incl. data
# exhaustion under zero padding), "EXT" for the T.6 extension prefix
_MODE_LUT: list = [None] * 128
for _code, _res in [("1", ("V0", 0)), ("011", ("V", 1)), ("010", ("V", -1)),
                    ("001", ("H", 0)), ("0001", ("P", 0)),
                    ("000011", ("V", 2)), ("000010", ("V", -2)),
                    ("0000011", ("V", 3)), ("0000010", ("V", -3))]:
    _base = int(_code, 2) << (7 - len(_code))
    for _suf in range(1 << (7 - len(_code))):
        _MODE_LUT[_base | _suf] = (_res[0], _res[1], len(_code))
_MODE_LUT[0] = ("EOL", 0, 0)
_MODE_LUT[1] = ("EXT", 0, 0)

# 13-bit peek -> (run, nbits) per color; None = invalid prefix
_RUN_LUT: tuple[list, list] = ([None] * 8192, [None] * 8192)
for _color in (0, 1):
    _pairs = list(enumerate(_TERM[_color])) + list(
        (r, c) for r, c in _MAKEUP[_color].items())
    for _run, _code in _pairs:
        _base = int(_code, 2) << (13 - len(_code))
        for _suf in range(1 << (13 - len(_code))):
            _RUN_LUT[_color][_base | _suf] = (_run, len(_code))


def _read_mode(fb: _FaxBits):
    """One T.6 mode code: ('V', d) | 'H' | 'P' | 'EOL' (EOFB / end)."""
    kind, arg, nbits = _MODE_LUT[fb.peek(7)]
    if kind == "EOL":
        return "EOL"
    if kind == "EXT":
        raise ValueError("T.6 extension modes unsupported")
    fb.skip(nbits)
    if kind == "H":
        return "H"
    if kind == "P":
        return "P"
    return ("V", arg if kind == "V" else 0)


def _read_run(fb: _FaxBits, color: int) -> int:
    """One full run length: 0+ makeup codes then a terminating code."""
    lut = _RUN_LUT[color]
    total = 0
    while True:
        hit = lut[fb.peek(13)]
        if hit is None:
            raise ValueError("invalid or truncated G4 run code")
        run, nbits = hit
        fb.skip(nbits)
        total += run
        if run < 64:
            return total


def _decode_row_2d(fb: _FaxBits, ref: list[int],
                   w: int) -> list[int] | None:
    """One 2D-coded row (shared by T.6 and T.4-2D): changing elements of
    the new row, or None when an EOL/EOFB (or end of data) is hit before
    the row starts advancing."""
    cur: list[int] = []
    a0, color = -1, 0
    while a0 < w:
        b1, b2 = _b1_b2(ref, a0, color, w)
        mode = _read_mode(fb)
        if mode == "EOL":
            return None
        if mode == "P":
            if b2 <= a0:
                raise ValueError("G4 pass mode does not advance")
            a0 = b2
        elif mode == "H":
            base = a0 if a0 > 0 else 0
            a1 = base + _read_run(fb, color)
            a2 = a1 + _read_run(fb, color ^ 1)
            # a0 = -1 only at line start, where any a1 >= 0 advances
            if a1 <= a0 or a2 < a1 or a2 > w:
                raise ValueError("G4 horizontal runs out of range")
            if a2 > a1:                  # zero-length 2nd run: no net change
                cur.append(a1)
                cur.append(a2)
            a0 = a2
        else:                            # vertical
            a1 = b1 + mode[1]
            if a1 < 0 or a1 > w or a1 <= a0:
                raise ValueError("G4 vertical mode out of range")
            cur.append(a1)
            a0 = a1
            color ^= 1
    return cur


def _decode_row_1d(fb: _FaxBits, w: int) -> list[int]:
    """One T.4 modified-Huffman row: alternating white/black runs from an
    all-white start until the row is exactly full. Every run contributes
    one boundary, so even indices are black starts — the same changing-
    element shape the 2D coder uses."""
    cur: list[int] = []
    pos, color = 0, 0
    while pos < w:
        pos += _read_run(fb, color)
        if pos > w:
            raise ValueError("MH row overruns width")
        cur.append(pos)
        color ^= 1
    return cur


def _canonical(cur: list[int]) -> list[int]:
    """Drop cancelling duplicate boundary pairs (zero-length runs) so the
    list is strictly increasing — required of a 2D reference line."""
    out: list[int] = []
    for p in cur:
        if out and out[-1] == p:
            out.pop()
        else:
            out.append(p)
    return out


def _fill_row(row: np.ndarray, cur: list[int], w: int) -> None:
    for i in range(0, len(cur), 2):
        start = cur[i]
        end = cur[i + 1] if i + 1 < len(cur) else w
        row[start:end] = 1


def g4_decode(data: bytes, w: int, h: int,
              align: bool = False) -> np.ndarray:
    """One T.6-coded block -> HxW uint8 array (1 = black). `align`
    mirrors PDF /EncodedByteAlign: each row's codes start on a byte
    boundary, so the reader drops the pad bits at every row start.

    The caller supplies w and h from the TIFF IFD, so output size is fixed
    up front — a crafted stream cannot expand past the declared raster.

    This is the hot decode path for scan corpora (G4 is what archives
    store), so the row loop is fully inlined: a rolling top-aligned bit
    window instead of reader-object calls, LUT mode/run decode, and a
    monotone pointer walk over the reference line instead of per-mode
    bisects. tests/test_ccitt.py pins it equal to the modular T.4-2D row
    decoder that mh/g3 still use (`_decode_row_2d`)."""
    if w <= 0 or h <= 0:
        raise ValueError("non-positive G4 dimensions")
    out = np.zeros((h, w), dtype=np.uint8)
    mode_lut = _MODE_LUT
    run_luts = _RUN_LUT
    ld = len(data)
    acc = nbits = pos = 0
    ref: list[int] = []
    nref = 0
    for y in range(h):
        if align and y:
            # drop pad bits: consumed = 8*pos - nbits must hit a byte
            # boundary, so nbits % 8 bits are discarded from the window
            k = nbits & 7
            nbits -= k
            acc &= (1 << nbits) - 1
        cur: list[int] = []
        append = cur.append
        a0, color, i = -1, 0, 0      # i: walks to first ref change > a0
        while a0 < w:
            while nbits < 13:        # one refill serves mode AND run peeks
                if pos < ld:
                    acc = (acc << 8) | data[pos]
                    pos += 1
                    nbits += 8
                else:                # zero padding reads as the EOL region
                    acc <<= 13 - nbits
                    nbits = 13
            kind, arg, nb = mode_lut[acc >> (nbits - 7)]
            if kind == "V" or kind == "V0":
                nbits -= nb
                acc &= (1 << nbits) - 1
                while i < nref and ref[i] <= a0:
                    i += 1
                j = i + 1 if (i & 1) != color else i
                a1 = (ref[j] if j < nref else w) + arg
                if a1 < 0 or a1 > w or a1 <= a0:
                    raise ValueError("G4 vertical mode out of range")
                append(a1)
                a0 = a1
                color ^= 1
            elif kind == "H":
                nbits -= 3
                acc &= (1 << nbits) - 1
                base = a0 if a0 > 0 else 0
                runs = [0, 0]
                for half in (0, 1):
                    lut = run_luts[color ^ half]
                    total = 0
                    while True:
                        while nbits < 13:
                            if pos < ld:
                                acc = (acc << 8) | data[pos]
                                pos += 1
                                nbits += 8
                            else:
                                acc <<= 13 - nbits
                                nbits = 13
                        hit = lut[acc >> (nbits - 13)]
                        if hit is None:
                            raise ValueError(
                                "invalid or truncated G4 run code")
                        r, rb = hit
                        nbits -= rb
                        acc &= (1 << nbits) - 1
                        total += r
                        if r < 64:
                            break
                    runs[half] = total
                a1 = base + runs[0]
                a2 = a1 + runs[1]
                if a1 <= a0 or a2 < a1 or a2 > w:
                    raise ValueError("G4 horizontal runs out of range")
                if a2 > a1:              # zero 2nd run: no net change
                    append(a1)
                    append(a2)
                a0 = a2
            elif kind == "P":
                nbits -= 4
                acc &= (1 << nbits) - 1
                while i < nref and ref[i] <= a0:
                    i += 1
                j = i + 1 if (i & 1) != color else i
                b2 = ref[j + 1] if j + 1 < nref else w
                if b2 <= a0:
                    raise ValueError("G4 pass mode does not advance")
                a0 = b2
            elif kind == "EOL":
                # EOFB (or end of data) before the declared height: the
                # stream coded fewer rows than the IFD claims — corrupt
                raise ValueError(
                    f"G4 stream ended at row {y} of declared {h}")
            else:
                raise ValueError("T.6 extension modes unsupported")
        _fill_row(out[y], cur, w)
        ref = cur
        nref = len(cur)
    return out


# --------------------------------------------------------------- Group 3
# TIFF compression 2 = T.4 modified Huffman, no EOLs, every row starts on
# a byte boundary. Compression 3 = classic G3: an EOL before every row,
# optionally with fill bits; T4Options bit 0 adds 2D rows (each EOL is
# followed by a 1-bit tag: 1 = the next row is 1D, 0 = 2D against the
# previous row).


def mh_decode(data: bytes, w: int, h: int, align: bool = True) -> np.ndarray:
    """Modified-Huffman 1D rows -> HxW uint8 (1 = black). `align=True` is
    TIFF compression-2 (each row starts on a byte boundary); align=False
    is the PDF CCITTFaxDecode /K 0 default (rows packed back-to-back with
    neither EOLs nor alignment, §7.4.6 EncodedByteAlign false)."""
    if w <= 0 or h <= 0:
        raise ValueError("non-positive MH dimensions")
    fb = _FaxBits(data)
    out = np.zeros((h, w), dtype=np.uint8)
    for y in range(h):
        _fill_row(out[y], _decode_row_1d(fb, w), w)
        if align:
            fb.align_byte()              # each row starts on a byte boundary
    return out


def _sync_eol(fb: _FaxBits) -> bool:
    """Consume (fill bits +) one EOL: >=11 zeros then a 1. False at end of
    data; raises if a 1 arrives too early (not at an EOL) or the zero fill
    never terminates (hang guard)."""
    zeros = 0
    while True:
        b = fb.read1()
        if b is None:
            return False
        if b:
            if zeros < 11:
                raise ValueError("G3 expected EOL")
            return True
        zeros += 1
        if zeros > 64 * 8:
            raise ValueError("G3 fill run never terminates")


def g3_decode(data: bytes, w: int, h: int, two_d: bool = False) -> np.ndarray:
    """TIFF compression-3 bytes -> HxW uint8 (1 = black). `two_d` mirrors
    T4Options bit 0 (each EOL carries a 1D/2D tag bit)."""
    if w <= 0 or h <= 0:
        raise ValueError("non-positive G3 dimensions")
    fb = _FaxBits(data)
    out = np.zeros((h, w), dtype=np.uint8)
    ref: list[int] = []
    # libtiff leniency (ADVICE r3): real-world compression-3 strips may omit
    # the leading EOL before row 0 (T.4 requires it, libtiff tolerates the
    # omission). If the stream does not open with an EOL — first 11 bits are
    # not all zero fill — decode row 0 directly as a 1D row, then resume the
    # EOL-synced loop. 2D files always need the tag bit, so the leniency is
    # 1D-only, exactly the shape libtiff accepts.
    skip_first_eol = not two_d and len(data) >= 1 and fb.peek(11) != 0
    for y in range(h):
        if y == 0 and skip_first_eol:
            cur = _decode_row_1d(fb, w)
            _fill_row(out[0], cur, w)
            ref = _canonical(cur)
            continue
        if not _sync_eol(fb):
            raise ValueError(f"G3 stream ended at row {y} of declared {h}")
        one_d = True
        if two_d:
            tag = fb.read1()
            if tag is None:
                raise ValueError("G3 stream ended at a 1D/2D tag bit")
            one_d = bool(tag)
        if one_d:
            cur = _decode_row_1d(fb, w)
        else:
            cur = _decode_row_2d(fb, ref, w)
            if cur is None:
                raise ValueError("unexpected EOL inside a G3 2D row")
        _fill_row(out[y], cur, w)
        ref = _canonical(cur)
    return out
