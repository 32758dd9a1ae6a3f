"""JBIG2 (ITU-T T.88) — the embedded-in-PDF organization, from scratch.

Archival scanned PDFs carry their bilevel page images as /JBIG2Decode
XObjects (ISO 32000 §7.4.7) at least as often as /CCITTFaxDecode — the
same corpora that motivated functions/ccitt.py. The reference reads them
through Leptonica's PDF path (SetImage sniff, /root/reference/src/api/
baseapi.cpp:881). Scope: the segment stream (T.88 §7.2 headers, embedded
organization, no file header), page-info composition, and BOTH generic
region coding families — MMR=1 (whose coded data IS T.6/G4, so the
decoder is ccitt.g4_decode behind a segment walk) and MMR=0, the MQ
arithmetic coder (T.88 §6.2.5.7: GB templates 0-3 with movable AT
pixels, TPGDON typical-prediction rows) — plus the dominant real-world
scanned-PDF organization: arithmetically-coded SYMBOL DICTIONARIES
(§6.5: IADH/IADW height classes, shared generic contexts, IAEX export
runs) and TEXT REGIONS (§6.4: strip/instance placement with all four
reference corners and transposition). The MQ coder itself is shared
with functions/jp2.py (T.88 Annex E and T.800 Annex C specify the same
coder). Every T.88 coding family decodes: the HUFFMAN organization
(fifteen standard Annex-B tables under B.3's canonical assignment,
collective height-class bitmaps §6.5.9, run-coded symbol ID tables
§7.4.3.1.7, Huffman text regions), HALFTONE regions (§6.6/§6.7 pattern
dictionaries + gray-code bitplanes), generic REFINEMENT regions (§6.3,
both GR templates), refined text regions (SBREFINE §6.4.11) and
aggregate symbol coding (SDREFAGG §6.5.8.2.2, single-instance).
Exotic combinations (Huffman+refine, multi-instance aggregates, TPGRON,
custom code tables) raise NAMED out-of-scope errors at their seams.

Mirror encoder: sparkstract/fixtures/encoders/jbig2.py.
"""

from __future__ import annotations

import numpy as np

from .bits import MsbWriter, canonical_codes
from .ccitt import g4_decode
from .jp2 import MQDecoder

# segment types (T.88 §7.3)
_T_SYMBOL_DICT = 0
_T_TEXT = (4, 6, 7)
_T_PATTERN = 16
_T_HALFTONE = (20, 22, 23)
_T_GENERIC_INTERMEDIATE = 36
_T_GENERIC_IMMEDIATE = (38, 39)
_T_REFINEMENT = (40, 42, 43)
_T_PAGE_INFO = 48
_T_END_OF_PAGE = 49
_T_END_OF_STRIPE = 50
_T_END_OF_FILE = 51
_T_TABLES = 53
_SKIPPABLE = (49, 50, 51, 52, 62)   # ends / profiles / extensions

_MAX_PIXELS = 64_000_000  # decode-bomb guard, matches the codec family


class _Cursor:
    __slots__ = ("d", "pos")

    def __init__(self, d: bytes, pos: int = 0) -> None:
        self.d = d
        self.pos = pos

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.d):
            raise ValueError("JBIG2 segment stream truncated")
        b = self.d[self.pos:self.pos + n]
        self.pos += n
        return b

    def u8(self) -> int:
        return self.take(1)[0]

    def u16(self) -> int:
        return int.from_bytes(self.take(2), "big")

    def u32(self) -> int:
        return int.from_bytes(self.take(4), "big")


def _parse_segment_header(c: _Cursor) -> dict:
    """T.88 §7.2 segment header -> dict with type, refs, page, length."""
    number = c.u32()
    flags = c.u8()
    seg_type = flags & 0x3F
    page_4 = bool(flags & 0x40)
    rts = c.u8()
    count = rts >> 5
    if count == 7:
        c.pos -= 1
        count = c.u32() & 0x1FFFFFFF
        c.take((count + 8) // 8)       # retain bits, ceil((count+1)/8)
    ref_size = 1 if number <= 256 else (2 if number <= 65536 else 4)
    refs = [int.from_bytes(c.take(ref_size), "big") for _ in range(count)]
    page = c.u32() if page_4 else c.u8()
    length = c.u32()
    if length == 0xFFFFFFFF:
        raise ValueError("JBIG2 unknown segment length: out of scope "
                         "(requires generic-region row tracking)")
    return dict(number=number, type=seg_type, refs=refs, page=page,
                length=length)


def _region_info(c: _Cursor) -> dict:
    """Region segment information field (T.88 §7.4.1)."""
    w, h, x, y = c.u32(), c.u32(), c.u32(), c.u32()
    op = c.u8() & 0x07
    return dict(w=w, h=h, x=x, y=y, op=op)


# ------------------------------------------- arithmetic (MQ) machinery
#
# Generic-region context layouts (T.88 figures 4-7). Slots are listed
# MSB->LSB; ("A", k) marks the k-th adaptive (AT) pixel, whose BIT SLOT
# sits at its nominal raster position while its VALUE is read from the
# segment's actual AT coordinates (§6.2.5.3: the context index is the
# raster-order reading of the template with the A slots fixed).

_NOMINAL_AT = {
    0: ((3, -1), (-3, -1), (2, -2), (-2, -2)),
    1: ((3, -1),),
    2: ((2, -1),),
    3: ((2, -1),),
}

_TEMPLATE_SLOTS = {
    0: (("A", 3), (-1, -2), (0, -2), (1, -2), ("A", 2),
        ("A", 1), (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1), ("A", 0),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
    1: ((-1, -2), (0, -2), (1, -2), (2, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1), ("A", 0),
        (-3, 0), (-2, 0), (-1, 0)),
    2: ((-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), ("A", 0),
        (-2, 0), (-1, 0)),
    3: ((-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1), ("A", 0),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0)),
}

# TPGDON pseudo-pixel contexts (§6.2.5.7 step 2) and per-template
# nominal row windows for the incremental fast path:
# (r2_lo, r2_hi, r1_lo, r1_hi, cur_len, shift2, shift1)
_TPGDON_CTX = {0: 0x9B25, 1: 0x0795, 2: 0x00E5, 3: 0x0195}
_FAST_WINDOWS = {
    0: (-2, 2, -3, 3, 4, 11, 4),
    1: (-1, 2, -2, 3, 3, 9, 3),
    2: (-1, 1, -2, 2, 2, 7, 2),
    3: (0, 0, -3, 2, 4, 0, 4),   # no y-2 row: window stays 0
}
_CTX_BITS = {0: 16, 1: 13, 2: 10, 3: 10}

_MAX_SYMBOLS = 65_536          # symbol-count bomb guard
_MAX_INSTANCES = 4_000_000     # text-region instance bomb guard
_MAX_SYM_DIM = 1 << 14


def _bank(n: int) -> list:
    """Fresh MQ context bank: n [state_index, mps] records."""
    return [[0, 0] for _ in range(n)]


def _resolve_slots(template: int, at: tuple) -> list:
    offs = []
    for s in _TEMPLATE_SLOTS[template]:
        if s[0] == "A":
            dx, dy = at[s[1]]
            if not (dy < 0 or (dy == 0 and dx < 0)):
                raise ValueError("JBIG2 AT pixel not strictly causal")
            if abs(dx) > 64 or dy < -64:
                raise ValueError("JBIG2 AT pixel offset out of range")
            offs.append((dx, dy))
        else:
            offs.append(s)
    return offs


def _decode_generic(mq: MQDecoder, cxs: list, w: int, h: int,
                    template: int, at: tuple, tpgdon: bool) -> np.ndarray:
    """T.88 §6.2 generic region decoding procedure, MMR=0."""
    if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
        raise ValueError("JBIG2 generic region size invalid")
    offs = _resolve_slots(template, at)
    pad = max(8, max(abs(dx) for dx, _ in offs) + 1)
    rw = w + 2 * pad
    zero = [0] * rw
    decode = mq.decode
    tctx = cxs[_TPGDON_CTX[template]]
    ltp = 0
    out_rows: list[list[int]] = []
    if tuple(at) == _NOMINAL_AT[template]:
        # incremental sliding-window path (the jbig2dec/pdf.js-style
        # optimization for nominal ATs — identical contexts, ~6 ops/px)
        r2lo, r2hi, r1lo, r1hi, clen, sh2, sh1 = _FAST_WINDOWS[template]
        n2 = r2hi - r2lo + 1
        m2 = ((1 << n2) - 1) if template != 3 else 0
        m1 = (1 << (r1hi - r1lo + 1)) - 1
        mc = (1 << clen) - 1
        row2 = zero
        row1 = zero
        for _y in range(h):
            if tpgdon:
                ltp ^= decode(tctx)
                if ltp:
                    out_rows.append(row1)
                    row2, row1 = row1, row1
                    continue
            cur_row = [0] * rw
            w2 = 0
            if template != 3:
                for dx in range(r2lo, r2hi + 1):
                    w2 = (w2 << 1) | row2[pad + dx]
            w1 = 0
            for dx in range(r1lo, r1hi + 1):
                w1 = (w1 << 1) | row1[pad + dx]
            cur = 0
            p2 = pad + r2hi + 1
            p1 = pad + r1hi + 1
            for x in range(w):
                b = decode(cxs[(w2 << sh2) | (w1 << sh1) | cur])
                if b:
                    cur_row[pad + x] = 1
                cur = ((cur << 1) | b) & mc
                w2 = ((w2 << 1) | row2[p2 + x]) & m2
                w1 = ((w1 << 1) | row1[p1 + x]) & m1
            out_rows.append(cur_row)
            row2, row1 = row1, cur_row
    else:
        # general path: arbitrary AT positions, per-pixel slot reads
        depth = max(-dy for _, dy in offs)
        hist = [zero] * depth          # hist[k] = row y-1-k, padded
        for _y in range(h):
            if tpgdon:
                ltp ^= decode(tctx)
                if ltp:
                    out_rows.append(hist[0] if depth else zero)
                    if depth:
                        hist = [hist[0]] + hist[:-1]
                    continue
            cur_row = [0] * rw
            rows = [cur_row] + hist    # rows[-dy] = row y+dy
            for x in range(w):
                ctx = 0
                for dx, dy in offs:
                    ctx = (ctx << 1) | rows[-dy][pad + x + dx]
                b = decode(cxs[ctx])
                if b:
                    cur_row[pad + x] = 1
            out_rows.append(cur_row)
            if depth:
                hist = [cur_row] + hist[:-1]
    bitmap = np.zeros((h, w), np.uint8)
    for y, r in enumerate(out_rows):
        bitmap[y] = r[pad:pad + w]
    return bitmap


# Annex A: arithmetic integer decoding (IADH/IADW/IAEX/IAAI/IADT/IAFS/
# IADS/IAIT all share this procedure over 512-record context banks) and
# the IAID symbol-code variant.


def _int_decode(mq: MQDecoder, bank: list) -> int | None:
    """Annex A.2 -> value, or None for OOB."""
    prev = 1

    def bit() -> int:
        nonlocal prev
        b = mq.decode(bank[prev])
        prev = ((prev << 1) | b) if prev < 256 else \
            (((((prev << 1) | b) & 511) | 256))
        return b

    def bits(n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | bit()
        return v

    s = bit()
    if not bit():
        v = bits(2)
    elif not bit():
        v = bits(4) + 4
    elif not bit():
        v = bits(6) + 20
    elif not bit():
        v = bits(8) + 84
    elif not bit():
        v = bits(12) + 340
    else:
        v = bits(32) + 4436
    if s and v == 0:
        return None
    return -v if s else v


def _iaid_decode(mq: MQDecoder, bank: list, codelen: int) -> int:
    prev = 1
    for _ in range(codelen):
        prev = (prev << 1) | mq.decode(bank[prev])
    return prev - (1 << codelen)


# --------------------------------------------- Huffman (Annex B) machinery
#
# The OTHER T.88 coding organization: MSB-first prefix codes with
# range-extension bits, selected per field by the segment flags. The
# fifteen STANDARD tables (B.1-B.15) are transcribed from the published
# annex (they also appear verbatim in every open JBIG2 reader, e.g.
# jbig2dec's jbig2_huffman.c / pdf.js's jbig2.js — public provenance);
# line ORDER matters because B.3's canonical assignment numbers same-
# length codes in table order. tests/test_jbig2.py pins each table's
# Kraft sum and spot-decodes hand-assembled bit vectors. Custom table
# segments (type 53) remain a named error.

class _MsbReader:
    """MSB-first bit reader over a segment body tail."""

    __slots__ = ("d", "byte", "bit")

    def __init__(self, d: bytes, pos: int = 0) -> None:
        self.d = d
        self.byte = pos
        self.bit = 0

    def read1(self) -> int:
        if self.byte >= len(self.d):
            raise ValueError("JBIG2 Huffman data truncated")
        b = (self.d[self.byte] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.byte += 1
        return b

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read1()
        return v

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1

    def take_aligned(self, n: int) -> bytes:
        """n whole bytes at the current (aligned) position."""
        self.align()
        if self.byte + n > len(self.d):
            raise ValueError("JBIG2 Huffman data truncated")
        b = self.d[self.byte:self.byte + n]
        self.byte += n
        return b


class _HuffTable:
    """One assigned Annex-B table: lines in SPEC order, each
    (preflen, rangelen, rangelow, kind) with kind 'n' normal /
    'l' 32-bit lower range / 'h' 32-bit upper range / 'o' OOB."""

    __slots__ = ("lines", "codes", "dec", "maxlen")

    def __init__(self, lines: tuple) -> None:
        self.lines = [ln for ln in lines if ln[0] > 0]
        self.maxlen = max(ln[0] for ln in self.lines)
        self.codes = [(length, code, ln) for (code, length), ln in zip(
            canonical_codes([ln[0] for ln in self.lines]), self.lines)]
        self.dec = {(length, code): ln for length, code, ln in self.codes}

    def decode(self, br: _MsbReader) -> int | None:
        code = 0
        length = 0
        while True:
            code = (code << 1) | br.read1()
            length += 1
            if length > self.maxlen:
                raise ValueError("JBIG2 Huffman code invalid")
            line = self.dec.get((length, code))
            if line is None:
                continue
            _, rangelen, rangelow, kind = line
            if kind == "o":
                return None
            if kind == "l":
                return rangelow - br.read(32)
            if kind == "h":
                return rangelow + br.read(32)
            return rangelow + br.read(rangelen)

    def encode(self, bw: MsbWriter, value: int | None) -> None:
        """Fixture-side mirror: first matching line in table order."""
        if value is None:
            for length, code, ln in self.codes:
                if ln[3] == "o":
                    bw.write(code, length)
                    return
            raise ValueError("table has no OOB code")
        for length, code, (_, rangelen, rangelow, kind) in self.codes:
            if kind == "n" and rangelow <= value < rangelow + (1 << rangelen):
                bw.write(code, length)
                bw.write(value - rangelow, rangelen)
                return
        for length, code, (_, _, rangelow, kind) in self.codes:
            if kind == "l" and value <= rangelow:
                bw.write(code, length)
                bw.write(rangelow - value, 32)
                return
            if kind == "h" and value >= rangelow:
                bw.write(code, length)
                bw.write(value - rangelow, 32)
                return
        raise ValueError(f"value {value} outside table range")


def _T(*lines):
    return _HuffTable(tuple(
        ln if len(ln) == 4 else (*ln, "n") for ln in lines))


_STD_TABLES: dict[str, _HuffTable] = {
    "B1": _T((1, 4, 0), (2, 8, 16), (3, 16, 272), (3, 32, 65808, "h")),
    "B2": _T((1, 0, 0), (2, 0, 1), (3, 0, 2), (4, 3, 3), (5, 6, 11),
             (6, 32, 75, "h"), (6, 0, 0, "o")),
    "B3": _T((8, 8, -256), (1, 0, 0), (2, 0, 1), (3, 0, 2), (4, 3, 3),
             (5, 6, 11), (8, 32, -257, "l"), (7, 32, 75, "h"),
             (6, 0, 0, "o")),
    "B4": _T((1, 0, 1), (2, 0, 2), (3, 0, 3), (4, 3, 4), (5, 6, 12),
             (5, 32, 76, "h")),
    "B5": _T((7, 8, -255), (1, 0, 1), (2, 0, 2), (3, 0, 3), (4, 3, 4),
             (5, 6, 12), (7, 32, -256, "l"), (6, 32, 76, "h")),
    "B6": _T((5, 10, -2048), (4, 9, -1024), (4, 8, -512), (4, 7, -256),
             (5, 6, -128), (5, 5, -64), (4, 5, -32), (2, 7, 0),
             (3, 7, 128), (3, 8, 256), (4, 9, 512), (4, 10, 1024),
             (6, 32, -2049, "l"), (6, 32, 2048, "h")),
    "B7": _T((4, 9, -1024), (3, 8, -512), (4, 7, -256), (5, 6, -128),
             (5, 5, -64), (4, 5, -32), (4, 5, 0), (5, 5, 32), (5, 6, 64),
             (4, 7, 128), (3, 8, 256), (3, 9, 512), (3, 10, 1024),
             (5, 32, -1025, "l"), (5, 32, 2048, "h")),
    "B8": _T((8, 3, -15), (9, 1, -7), (8, 1, -5), (9, 0, -3), (7, 0, -2),
             (4, 0, -1), (2, 1, 0), (5, 0, 2), (6, 0, 3), (3, 4, 4),
             (6, 1, 20), (4, 4, 22), (4, 5, 38), (5, 6, 70), (5, 7, 134),
             (6, 7, 262), (7, 8, 390), (6, 10, 646), (9, 32, -16, "l"),
             (9, 32, 1670, "h"), (2, 0, 0, "o")),
    "B9": _T((8, 4, -31), (9, 2, -15), (8, 2, -11), (9, 1, -7), (7, 1, -5),
             (4, 1, -3), (3, 1, -1), (3, 1, 1), (5, 1, 3), (6, 1, 5),
             (3, 5, 7), (6, 2, 39), (4, 5, 43), (4, 6, 75), (5, 7, 139),
             (5, 8, 267), (6, 8, 523), (7, 9, 779), (6, 11, 1291),
             (9, 32, -32, "l"), (9, 32, 3339, "h"), (2, 0, 0, "o")),
    "B10": _T((7, 4, -21), (8, 0, -5), (7, 0, -4), (5, 0, -3), (2, 2, -2),
              (5, 0, 2), (6, 0, 3), (7, 0, 4), (8, 0, 5), (2, 6, 6),
              (5, 5, 70), (6, 5, 102), (7, 6, 134), (8, 7, 198),
              (8, 8, 326), (8, 9, 582), (8, 10, 1094), (7, 11, 2118),
              (8, 32, -22, "l"), (8, 32, 4166, "h"), (2, 0, 0, "o")),
    "B11": _T((1, 0, 1), (2, 1, 2), (4, 0, 4), (4, 1, 5), (5, 1, 7),
              (5, 2, 9), (6, 2, 13), (7, 2, 17), (7, 3, 21), (7, 4, 29),
              (7, 5, 45), (7, 6, 77), (7, 32, 141, "h")),
    "B12": _T((1, 0, 1), (2, 0, 2), (3, 1, 3), (5, 0, 5), (5, 1, 6),
              (6, 1, 8), (7, 0, 10), (7, 1, 11), (7, 2, 13), (7, 3, 17),
              (7, 4, 25), (8, 5, 41), (8, 32, 73, "h")),
    "B13": _T((1, 0, 1), (3, 0, 2), (4, 0, 3), (5, 0, 4), (4, 1, 5),
              (3, 3, 7), (6, 1, 15), (6, 2, 17), (6, 3, 21), (6, 4, 29),
              (6, 5, 45), (7, 6, 77), (7, 32, 141, "h")),
    "B14": _T((3, 0, -2), (3, 0, -1), (1, 0, 0), (3, 0, 1), (3, 0, 2)),
    "B15": _T((7, 4, -24), (6, 2, -8), (5, 1, -4), (4, 0, -2), (3, 0, -1),
              (1, 0, 0), (3, 0, 1), (4, 0, 2), (5, 1, 3), (6, 2, 5),
              (7, 4, 9), (7, 32, -25, "l"), (7, 32, 25, "h")),
}


def _select_table(sel: int, choices: tuple[str, ...], what: str) -> _HuffTable:
    if sel >= len(choices):
        raise ValueError(f"JBIG2 custom {what} Huffman table: out of scope "
                         "(standard tables supported)")
    return _STD_TABLES[choices[sel]]


class _PrefixCode:
    """A plain prefix code over symbols 0..n-1 from assigned lengths
    (B.3 canonical assignment in symbol order) — the runcode and
    symbol-ID codes of §7.4.3.1.7."""

    __slots__ = ("dec", "enc", "maxlen")

    def __init__(self, lengths: list[int]) -> None:
        if not any(lengths):
            raise ValueError("JBIG2 empty prefix code")
        self.maxlen = max(lengths)
        self.enc = {sym: cl for sym, cl in enumerate(canonical_codes(lengths))
                    if cl}
        self.dec = {(ln, code): sym for sym, (code, ln) in self.enc.items()}

    def decode(self, br: _MsbReader) -> int:
        code = 0
        length = 0
        while True:
            code = (code << 1) | br.read1()
            length += 1
            if length > self.maxlen:
                raise ValueError("JBIG2 prefix code invalid")
            sym = self.dec.get((length, code))
            if sym is not None:
                return sym


def _read_symbol_id_code(br: _MsbReader, n_syms: int) -> _PrefixCode | None:
    """§7.4.3.1.7 symbol ID code: 35 run-code lengths (4 bits each), a
    run-coded length per symbol, then byte alignment. Returns None when a
    single symbol makes the code zero-length (the ID is implicit)."""
    runlens = [br.read(4) for _ in range(35)]
    runcode = _PrefixCode(runlens) if any(runlens) else None
    lengths: list[int] = []
    prev = 0
    while len(lengths) < n_syms:
        if runcode is None:
            raise ValueError("JBIG2 symbol ID code lengths missing")
        c = runcode.decode(br)
        if c < 32:
            lengths.append(c)
            if c:
                prev = c
        elif c == 32:
            lengths.extend([prev] * (3 + br.read(2)))
        elif c == 33:
            lengths.extend([0] * (3 + br.read(3)))
        else:
            lengths.extend([0] * (11 + br.read(7)))
    lengths = lengths[:n_syms]
    br.align()
    if not any(lengths):
        if n_syms == 1:
            return None
        raise ValueError("JBIG2 symbol ID code empty")
    return _PrefixCode(lengths)


def _s8(b: int) -> int:
    return b - 256 if b >= 128 else b


def _read_at(body: _Cursor, n: int) -> tuple:
    return tuple((_s8(body.u8()), _s8(body.u8())) for _ in range(n))


def _decode_symbol_dict(body: _Cursor, input_syms: list) -> list:
    """§6.5 symbol dictionary decoding (arithmetic; Huffman dispatches) ->
    exported symbol bitmaps in decode order. SDREFAGG=1 symbols with ONE
    aggregate instance decode as a REFINEMENT of an earlier symbol
    (§6.5.8.2.2 — how real encoders store near-duplicate glyphs);
    multi-instance aggregates (a full text region per symbol) stay a
    named error."""
    flags = body.u16()
    if flags & 0x01:
        if flags & 0x02:
            raise ValueError("JBIG2 Huffman refinement/aggregate symbol "
                             "coding: out of scope")
        return _decode_symbol_dict_huffman(body, input_syms, flags)
    if flags & 0x100 or flags & 0x200:
        raise ValueError("JBIG2 bitmap coding context import/export: out "
                         "of scope")
    refagg = bool(flags & 0x02)
    template = (flags >> 10) & 3
    rtemplate = (flags >> 12) & 1
    at = _read_at(body, 4 if template == 0 else 1)
    rat = _REF_NOMINAL_AT
    if refagg and rtemplate == 0:
        rat = _read_at(body, 2)
        a1 = rat[0]
        if not (a1[1] < 0 or (a1[1] == 0 and a1[0] < 0)):
            raise ValueError("JBIG2 refinement AT1 must be causal")
    num_ex = body.u32()
    num_new = body.u32()
    if num_new > _MAX_SYMBOLS or num_ex > _MAX_SYMBOLS:
        raise ValueError("JBIG2 symbol dictionary too large")
    mq = MQDecoder(body.d[body.pos:])
    iadh, iadw, iaex = _bank(512), _bank(512), _bank(512)
    gcx = _bank(1 << _CTX_BITS[template])
    iaai = _bank(512)
    iard = [_bank(512) for _ in range(2)]          # RDX, RDY
    rcxs = _bank(1 << (13 if rtemplate == 0 else 10))
    agg_codelen = max(1, (len(input_syms) + num_new - 1).bit_length())
    iaid_agg = _bank(1 << (agg_codelen + 1))
    newsyms: list[np.ndarray] = []
    hcheight = 0
    total_px = 0
    classes = 0
    while len(newsyms) < num_new:
        classes += 1
        if classes > num_new + 64:
            raise ValueError("JBIG2 symbol dictionary: runaway height "
                             "classes")
        dh = _int_decode(mq, iadh)
        if dh is None:
            raise ValueError("JBIG2 OOB height-class delta")
        hcheight += dh
        if not 0 < hcheight <= _MAX_SYM_DIM:
            raise ValueError("JBIG2 symbol height out of range")
        symwidth = 0
        while True:
            dw = _int_decode(mq, iadw)
            if dw is None:
                break
            symwidth += dw
            if not 0 < symwidth <= _MAX_SYM_DIM:
                raise ValueError("JBIG2 symbol width out of range")
            if len(newsyms) >= num_new:
                raise ValueError("JBIG2 symbol count overflow")
            total_px += symwidth * hcheight
            if total_px > _MAX_PIXELS:
                raise ValueError("JBIG2 symbol dictionary pixel bomb")
            if refagg:
                ninst = _int_decode(mq, iaai)
                if ninst != 1:
                    raise ValueError("JBIG2 multi-instance aggregate "
                                     "symbol: out of scope (single-"
                                     "instance refinement supported)")
                prior = input_syms + newsyms
                rid = _iaid_decode(mq, iaid_agg, agg_codelen)
                if rid >= len(prior):
                    raise ValueError("JBIG2 aggregate reference id out "
                                     "of range")
                rdx = _int_decode(mq, iard[0])
                rdy = _int_decode(mq, iard[1])
                if rdx is None or rdy is None:
                    raise ValueError("JBIG2 OOB aggregate delta")
                newsyms.append(_decode_refinement(
                    mq, rcxs, symwidth, hcheight, rtemplate, rat,
                    prior[rid], rdx, rdy))
            else:
                newsyms.append(_decode_generic(mq, gcx, symwidth,
                                               hcheight, template, at,
                                               False))
    # §6.5.10 export flags: alternating not-exported/exported runs over
    # input symbols followed by new symbols
    allsyms = input_syms + newsyms
    exported: list[np.ndarray] = []
    i = 0
    cur = 0
    runs = 0
    while i < len(allsyms):
        runs += 1
        if runs > 2 * len(allsyms) + 2:
            raise ValueError("JBIG2 symbol export: runaway runs")
        run = _int_decode(mq, iaex)
        if run is None or run < 0 or i + run > len(allsyms):
            raise ValueError("JBIG2 symbol export run invalid")
        if cur:
            exported.extend(allsyms[i:i + run])
        i += run
        cur ^= 1
    if len(exported) != num_ex:
        raise ValueError("JBIG2 symbol export count mismatch")
    return exported


def _decode_symbol_dict_huffman(body: _Cursor, input_syms: list,
                                flags: int) -> list:
    """§6.5 symbol dictionary, Huffman organization (SDHUFF=1,
    SDREFAGG=0): per height class the widths arrive run-coded through the
    selected standard tables, then the class's symbols ship as ONE
    COLLECTIVE BITMAP (§6.5.9) — byte-aligned, either uncompressed
    (BMSIZE=0) or MMR-coded (T.6 via ccitt.g4_decode) — sliced per
    symbol. Export runs use Table B.1."""
    dh = _select_table((flags >> 2) & 3, ("B4", "B5"), "DH")
    dw = _select_table((flags >> 4) & 3, ("B2", "B3"), "DW")
    bmsize_tab = _select_table((flags >> 6) & 1, ("B1",), "BMSIZE")
    if flags & 0x100 or flags & 0x200:
        raise ValueError("JBIG2 bitmap coding context import/export: out "
                         "of scope")
    num_ex = body.u32()
    num_new = body.u32()
    if num_new > _MAX_SYMBOLS or num_ex > _MAX_SYMBOLS:
        raise ValueError("JBIG2 symbol dictionary too large")
    br = _MsbReader(body.d, body.pos)
    newsyms: list[np.ndarray] = []
    hcheight = 0
    total_px = 0
    classes = 0
    while len(newsyms) < num_new:
        classes += 1
        if classes > num_new + 64:
            raise ValueError("JBIG2 symbol dictionary: runaway height "
                             "classes")
        delta = dh.decode(br)
        if delta is None:
            raise ValueError("JBIG2 OOB height-class delta")
        hcheight += delta
        if not 0 < hcheight <= _MAX_SYM_DIM:
            raise ValueError("JBIG2 symbol height out of range")
        symwidth = 0
        widths: list[int] = []
        while True:
            dwv = dw.decode(br)
            if dwv is None:
                break
            symwidth += dwv
            if not 0 < symwidth <= _MAX_SYM_DIM:
                raise ValueError("JBIG2 symbol width out of range")
            if len(newsyms) + len(widths) >= num_new:
                raise ValueError("JBIG2 symbol count overflow")
            total_px += symwidth * hcheight
            if total_px > _MAX_PIXELS:
                raise ValueError("JBIG2 symbol dictionary pixel bomb")
            widths.append(symwidth)
        if not widths:
            continue
        totwidth = sum(widths)
        bmsize = bmsize_tab.decode(br)
        if bmsize is None or bmsize < 0:
            raise ValueError("JBIG2 collective bitmap size invalid")
        if bmsize == 0:                    # uncompressed, row-padded
            stride = (totwidth + 7) >> 3
            raw = np.frombuffer(br.take_aligned(stride * hcheight),
                                np.uint8).reshape(hcheight, stride)
            coll = np.unpackbits(raw, axis=1)[:, :totwidth]
        else:                              # MMR (T.6) coded
            coll = g4_decode(br.take_aligned(bmsize), totwidth, hcheight)
        x = 0
        for wd in widths:
            newsyms.append(np.ascontiguousarray(coll[:, x:x + wd]))
            x += wd
    # §6.5.10 export flags, EXRUNLENGTH via Table B.1
    allsyms = input_syms + newsyms
    b1 = _STD_TABLES["B1"]
    exported: list[np.ndarray] = []
    i = 0
    cur = 0
    runs = 0
    while i < len(allsyms):
        runs += 1
        if runs > 2 * len(allsyms) + 2:
            raise ValueError("JBIG2 symbol export: runaway runs")
        run = b1.decode(br)
        if run is None or run < 0 or i + run > len(allsyms):
            raise ValueError("JBIG2 symbol export run invalid")
        if cur:
            exported.extend(allsyms[i:i + run])
        i += run
        cur ^= 1
    if len(exported) != num_ex:
        raise ValueError("JBIG2 symbol export count mismatch")
    return exported


def _decode_text_region(body: _Cursor, ri: dict,
                        syms: list) -> np.ndarray:
    """§6.4 text region decoding — arithmetic or Huffman organization;
    the arithmetic path supports SBREFINE per-instance refinement
    (§6.4.11: IARI selects instances whose bitmap is refinement-decoded
    against the dictionary symbol — the lossy-to-lossless text shape)."""
    flags = body.u16()
    if flags & 0x01:
        if flags & 0x02:
            raise ValueError("JBIG2 Huffman refined text region: out of "
                             "scope (arithmetic refinement supported)")
        return _decode_text_region_huffman(body, ri, syms, flags)
    strips = 1 << ((flags >> 2) & 3)
    refcorner = (flags >> 4) & 3           # 0 BL, 1 TL, 2 BR, 3 TR
    transposed = (flags >> 6) & 1
    combop = (flags >> 7) & 3
    defpixel = (flags >> 9) & 1
    dsoffset = (flags >> 10) & 0x1F
    if dsoffset > 15:
        dsoffset -= 32
    refine = bool(flags & 0x02)
    rtemplate = (flags >> 15) & 1
    rat = _REF_NOMINAL_AT
    if refine and rtemplate == 0:
        rat = _read_at(body, 2)
        a1 = rat[0]
        if not (a1[1] < 0 or (a1[1] == 0 and a1[0] < 0)):
            raise ValueError("JBIG2 refinement AT1 must be causal")
    num_inst = body.u32()
    if not syms:
        raise ValueError("JBIG2 text region with no referred symbols")
    codelen = max(1, (len(syms) - 1).bit_length())
    mq = MQDecoder(body.d[body.pos:])
    iadt, iafs, iads, iait = _bank(512), _bank(512), _bank(512), _bank(512)
    iaid = _bank(1 << (codelen + 1))
    readers = dict(
        dt=lambda: _int_decode(mq, iadt),
        fs=lambda: _int_decode(mq, iafs),
        ds=lambda: _int_decode(mq, iads),
        it=(lambda: _int_decode(mq, iait)) if strips > 1 else (lambda: 0),
        id=lambda: _iaid_decode(mq, iaid, codelen),
    )
    if refine:
        iari = _bank(512)
        iard = [_bank(512) for _ in range(4)]      # RDW RDH RDX RDY
        rcxs = _bank(1 << (13 if rtemplate == 0 else 10))

        def _refine_sym(sym: np.ndarray) -> np.ndarray:
            if _int_decode(mq, iari) == 0:
                return sym
            deltas = [_int_decode(mq, b) for b in iard]
            if any(d is None for d in deltas):
                raise ValueError("JBIG2 OOB refinement delta")
            rdw, rdh, rdx, rdy = deltas
            nw, nh = sym.shape[1] + rdw, sym.shape[0] + rdh
            if not (0 < nw <= _MAX_SYM_DIM and 0 < nh <= _MAX_SYM_DIM):
                raise ValueError("JBIG2 refined symbol size out of range")
            # §6.4.11: reference offset centers the old bitmap in the new
            return _decode_refinement(mq, rcxs, nw, nh, rtemplate, rat,
                                      sym, (rdw >> 1) + rdx,
                                      (rdh >> 1) + rdy)

        readers["refine"] = _refine_sym
    return _text_region_core(ri, syms, num_inst, strips, refcorner,
                             transposed, combop, defpixel, dsoffset,
                             readers)


def _decode_text_region_huffman(body: _Cursor, ri: dict, syms: list,
                                flags: int) -> np.ndarray:
    """§6.4 text region, Huffman organization (SBHUFF=1): a second flags
    halfword selects the standard tables per field (§7.4.4.1.2), the
    symbol ID code arrives run-coded in-stream (§7.4.3.1.7), and CURT is
    log2(SBSTRIPS) raw bits."""
    strips = 1 << ((flags >> 2) & 3)
    refcorner = (flags >> 4) & 3
    transposed = (flags >> 6) & 1
    combop = (flags >> 7) & 3
    defpixel = (flags >> 9) & 1
    dsoffset = (flags >> 10) & 0x1F
    if dsoffset > 15:
        dsoffset -= 32
    hflags = body.u16()
    fs = _select_table(hflags & 3, ("B6", "B7"), "FS")
    ds = _select_table((hflags >> 2) & 3, ("B8", "B9", "B10"), "DS")
    dt = _select_table((hflags >> 4) & 3, ("B11", "B12", "B13"), "DT")
    num_inst = body.u32()
    if not syms:
        raise ValueError("JBIG2 text region with no referred symbols")
    br = _MsbReader(body.d, body.pos)
    idcode = _read_symbol_id_code(br, len(syms))
    strip_bits = (strips - 1).bit_length()
    readers = dict(
        dt=lambda: dt.decode(br),
        fs=lambda: fs.decode(br),
        ds=lambda: ds.decode(br),
        it=(lambda: br.read(strip_bits)) if strips > 1 else (lambda: 0),
        id=(lambda: idcode.decode(br)) if idcode is not None
           else (lambda: 0),
    )
    return _text_region_core(ri, syms, num_inst, strips, refcorner,
                             transposed, combop, defpixel, dsoffset,
                             readers)


def _text_region_core(ri: dict, syms: list, num_inst: int, strips: int,
                      refcorner: int, transposed: int, combop: int,
                      defpixel: int, dsoffset: int,
                      readers: dict) -> np.ndarray:
    """§6.4.5 strip/instance placement, shared by both organizations —
    `readers` supplies the five per-field decoders (ds/id return None at
    OOB / never, respectively)."""
    if num_inst > _MAX_INSTANCES:
        raise ValueError("JBIG2 text region instance bomb")
    w, h = ri["w"], ri["h"]
    if w * h > _MAX_PIXELS:
        raise ValueError("JBIG2 region too large")
    region = np.full((h, w), defpixel, np.uint8)
    first_dt = readers["dt"]()
    if first_dt is None:
        raise ValueError("JBIG2 OOB strip T")
    stript = -first_dt * strips
    firsts = 0
    inst = 0
    strips_seen = 0
    while inst < num_inst:
        strips_seen += 1
        if strips_seen > num_inst + _MAX_SYM_DIM:
            raise ValueError("JBIG2 text region: runaway strips")
        dt = readers["dt"]()
        if dt is None:
            raise ValueError("JBIG2 OOB strip delta")
        stript += dt * strips
        first = True
        curs = 0
        while True:
            if first:
                dfs = readers["fs"]()
                if dfs is None:
                    raise ValueError("JBIG2 OOB first S")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = readers["ds"]()
                if ids is None:
                    break
                curs += ids + dsoffset
            if inst >= num_inst:
                raise ValueError("JBIG2 text region instance overflow")
            curt = readers["it"]()
            if curt is None:
                raise ValueError("JBIG2 OOB instance T")
            t = stript + curt
            sid = readers["id"]()
            if sid >= len(syms):
                raise ValueError("JBIG2 symbol id out of range")
            sym = syms[sid]
            refine = readers.get("refine")
            if refine is not None:
                sym = refine(sym)
            sh, sw = sym.shape
            # §6.4.5 (3)(c): RIGHT corners advance S before drawing,
            # LEFT corners after; transposed swaps the roles of S/T and
            # the advance becomes the symbol height
            if not transposed:
                if refcorner in (2, 3):
                    curs += sw - 1
                x0 = curs - (sw - 1 if refcorner in (2, 3) else 0)
                y0 = t - (sh - 1 if refcorner in (0, 2) else 0)
            else:
                if refcorner in (0, 2):
                    curs += sh - 1
                y0 = curs - (sh - 1 if refcorner in (0, 2) else 0)
                x0 = t - (sw - 1 if refcorner in (2, 3) else 0)
            # clip to the region (tolerant, like the page composition)
            sy0, sx0 = max(0, -y0), max(0, -x0)
            sy1 = min(sh, h - y0)
            sx1 = min(sw, w - x0)
            if sy1 > sy0 and sx1 > sx0:
                tgt = region[y0 + sy0:y0 + sy1, x0 + sx0:x0 + sx1]
                src = sym[sy0:sy1, sx0:sx1]
                if combop == 0:
                    tgt |= src
                elif combop == 1:
                    tgt &= src
                elif combop == 2:
                    tgt ^= src
                else:
                    raise ValueError("JBIG2 XNOR text composition: out "
                                     "of scope")
            if not transposed:
                if refcorner in (0, 1):
                    curs += sw - 1
            else:
                if refcorner in (1, 3):
                    curs += sh - 1
            inst += 1
    return region


# ------------------------------------------------- refinement (§6.3)
#
# Generic refinement decoding: each pixel's context mixes the partially-
# decoded CURRENT bitmap with a 3x3 neighborhood of the REFERENCE bitmap
# at (x - dx, y - dy) — template 0 carries 13 context pixels with two
# movable ATs (one per plane), template 1 a fixed 10. Slot layout matches
# the published readers (jbig2dec jbig2_refinement.c — public), the same
# provenance rule as the generic templates. TPGRON typical-prediction
# rows stay a named error (optional, rarely emitted).


def _ref_px(bm: np.ndarray, x: int, y: int) -> int:
    if 0 <= y < bm.shape[0] and 0 <= x < bm.shape[1]:
        return int(bm[y, x])
    return 0


def _refinement_context(cur: np.ndarray, ref: np.ndarray, x: int, y: int,
                        dx: int, dy: int, template: int,
                        at: tuple) -> int:
    rx, ry = x - dx, y - dy
    if template == 0:
        a1, a2 = at
        return (_ref_px(cur, x - 1, y)
                | _ref_px(cur, x + 1, y - 1) << 1
                | _ref_px(cur, x, y - 1) << 2
                | _ref_px(cur, x + a1[0], y + a1[1]) << 3
                | _ref_px(ref, rx + 1, ry + 1) << 4
                | _ref_px(ref, rx, ry + 1) << 5
                | _ref_px(ref, rx - 1, ry + 1) << 6
                | _ref_px(ref, rx + 1, ry) << 7
                | _ref_px(ref, rx, ry) << 8
                | _ref_px(ref, rx - 1, ry) << 9
                | _ref_px(ref, rx + 1, ry - 1) << 10
                | _ref_px(ref, rx, ry - 1) << 11
                | _ref_px(ref, rx + a2[0], ry + a2[1]) << 12)
    return (_ref_px(cur, x - 1, y)
            | _ref_px(cur, x + 1, y - 1) << 1
            | _ref_px(cur, x, y - 1) << 2
            | _ref_px(cur, x - 1, y - 1) << 3
            | _ref_px(ref, rx + 1, ry + 1) << 4
            | _ref_px(ref, rx, ry + 1) << 5
            | _ref_px(ref, rx + 1, ry) << 6
            | _ref_px(ref, rx, ry) << 7
            | _ref_px(ref, rx - 1, ry) << 8
            | _ref_px(ref, rx, ry - 1) << 9)


_REF_NOMINAL_AT = ((-1, -1), (-1, -1))


def _decode_refinement(mq: MQDecoder, cxs: list, w: int, h: int,
                       template: int, at: tuple, ref: np.ndarray,
                       dx: int, dy: int) -> np.ndarray:
    out = np.zeros((h, w), np.uint8)
    for y in range(h):
        for x in range(w):
            ctx = _refinement_context(out, ref, x, y, dx, dy, template, at)
            out[y, x] = mq.decode(cxs[ctx])
    return out


# ------------------------------------------------ halftone (§6.6/§6.7)


def _decode_pattern_dict(body: _Cursor) -> list[np.ndarray]:
    """§6.7 pattern dictionary: GRAYMAX+1 patterns of HDPW x HDPH,
    shipped as ONE collective bitmap (MMR or arithmetic with the spec's
    fixed AT layout, AT1 = (-HDPW, 0))."""
    flags = body.u8()
    hdmmr = flags & 1
    template = (flags >> 1) & 3
    hdpw = body.u8()
    hdph = body.u8()
    graymax = body.u32()
    if not (0 < hdpw <= 255 and 0 < hdph <= 255):
        raise ValueError("JBIG2 pattern size out of range")
    if graymax >= _MAX_SYMBOLS:
        raise ValueError("JBIG2 pattern dictionary too large")
    cw = (graymax + 1) * hdpw
    if cw * hdph > _MAX_PIXELS:
        raise ValueError("JBIG2 pattern dictionary pixel bomb")
    if hdmmr:
        coll = g4_decode(body.d[body.pos:], cw, hdph)
    else:
        at = ((-hdpw, 0), (-3, -1), (2, -2), (-2, -2))[
            :4 if template == 0 else 1]
        mq = MQDecoder(body.d[body.pos:])
        cxs = _bank(1 << _CTX_BITS[template])
        coll = _decode_generic(mq, cxs, cw, hdph, template, at, False)
    return [np.ascontiguousarray(coll[:, k * hdpw:(k + 1) * hdpw])
            for k in range(graymax + 1)]


def _decode_halftone_region(body: _Cursor, ri: dict,
                            patterns: list[np.ndarray]) -> np.ndarray:
    """§6.6 halftone region: a gray-code bitplane image (Annex C) indexes
    the referred pattern dictionary onto the (HRX, HRY) grid. Arithmetic
    grayscale only — all planes share one MQ decoder + context bank;
    MMR grayscale and skip masks raise named errors."""
    if not patterns:
        raise ValueError("JBIG2 halftone region with no referred patterns")
    flags = body.u8()
    hmmr = flags & 1
    template = (flags >> 1) & 3
    enableskip = (flags >> 3) & 1
    combop = (flags >> 4) & 7
    defpixel = (flags >> 7) & 1
    if hmmr:
        raise ValueError("JBIG2 halftone MMR grayscale: out of scope "
                         "(arithmetic supported)")
    if enableskip:
        raise ValueError("JBIG2 halftone skip mask: out of scope")
    hgw, hgh = body.u32(), body.u32()
    hgx = body.u32()
    hgy = body.u32()
    if hgx >= 1 << 31:
        hgx -= 1 << 32
    if hgy >= 1 << 31:
        hgy -= 1 << 32
    hrx, hry = body.u16(), body.u16()
    if hgw * hgh > _MAX_PIXELS or hgw == 0 or hgh == 0:
        raise ValueError("JBIG2 halftone grid out of range")
    w, h = ri["w"], ri["h"]
    if w * h > _MAX_PIXELS:
        raise ValueError("JBIG2 region too large")
    bitcount = max(1, (len(patterns) - 1).bit_length())
    mq = MQDecoder(body.d[body.pos:])
    cxs = _bank(1 << _CTX_BITS[template])
    at = _NOMINAL_AT[template]
    # Annex C.5: planes arrive MOST significant first; each decoded
    # plane XORs with the previous RESOLVED bit (gray-code unfold)
    value = np.zeros((hgh, hgw), np.int64)
    prev: np.ndarray | None = None
    for _ in range(bitcount):
        plane = _decode_generic(mq, cxs, hgw, hgh, template, at,
                                False).astype(np.int64)
        bit = plane if prev is None else plane ^ prev
        value = (value << 1) | bit
        prev = bit
    if int(value.max()) >= len(patterns):
        raise ValueError("JBIG2 halftone gray value exceeds pattern count")
    region = np.full((h, w), defpixel, np.uint8)
    hph, hpw = patterns[0].shape
    for mg in range(hgh):
        for ng in range(hgw):
            x = (hgx + mg * hry + ng * hrx) >> 8
            y = (hgy + mg * hrx - ng * hry) >> 8
            pat = patterns[int(value[mg, ng])]
            sy0, sx0 = max(0, -y), max(0, -x)
            sy1, sx1 = min(hph, h - y), min(hpw, w - x)
            if sy1 <= sy0 or sx1 <= sx0:
                continue
            tgt = region[y + sy0:y + sy1, x + sx0:x + sx1]
            src = pat[sy0:sy1, sx0:sx1]
            if combop == 0:
                tgt |= src
            elif combop == 1:
                tgt &= src
            elif combop == 2:
                tgt ^= src
            elif combop == 4:
                tgt[:] = src
            else:
                raise ValueError("JBIG2 halftone composition op: out of "
                                 "scope")
    return region


def decode_jbig2(data: bytes, globals_data: bytes = b"") -> np.ndarray:
    """Embedded JBIG2 stream (+ optional /JBIG2Globals bytes) -> bilevel
    page bitmap, uint8 HxW with 1 = black.  Generic regions (MMR + MQ),
    symbol-dictionary/text-region pages in BOTH the arithmetic and
    Huffman organizations; everything else raises a NAMED out-of-scope
    error."""
    c = _Cursor(globals_data + data)
    page_w = page_h = None
    page_default = 0
    page: np.ndarray | None = None
    sym_store: dict[int, list] = {}
    pat_store: dict[int, list] = {}

    def compose(ri: dict, bits: np.ndarray) -> None:
        nonlocal page, page_w, page_h
        if page is None:
            # standalone region (a PDF producer may omit page info)
            page = np.zeros((ri["y"] + ri["h"], ri["x"] + ri["w"]),
                            np.uint8)
            page_h, page_w = page.shape
        ys, xs = ri["y"], ri["x"]
        if ys + ri["h"] > page_h or xs + ri["w"] > page_w:
            raise ValueError("JBIG2 region outside page bounds")
        tgt = page[ys:ys + ri["h"], xs:xs + ri["w"]]
        if ri["op"] == 0:                  # OR
            tgt |= bits
        elif ri["op"] == 1:                # AND
            tgt &= bits
        elif ri["op"] == 2:                # XOR
            tgt ^= bits
        elif ri["op"] == 4:                # REPLACE
            tgt[:] = bits
        else:
            raise ValueError("JBIG2 XNOR composition: out of scope")

    while c.pos < len(c.d):
        seg = _parse_segment_header(c)
        body = _Cursor(c.take(seg["length"]))
        t = seg["type"]
        if t == _T_PAGE_INFO:
            page_w, page_h = body.u32(), body.u32()
            body.u32()                      # x resolution
            body.u32()                      # y resolution
            pflags = body.u8()
            page_default = (pflags >> 2) & 1
            if page_h == 0xFFFFFFFF:
                raise ValueError("JBIG2 unknown page height: out of scope")
            if page_w * page_h > _MAX_PIXELS:
                raise ValueError("JBIG2 page too large")
            page = np.full((page_h, page_w), page_default, np.uint8)
        elif t in _T_GENERIC_IMMEDIATE or t == _T_GENERIC_INTERMEDIATE:
            if t == _T_GENERIC_INTERMEDIATE:
                raise ValueError("JBIG2 intermediate generic region: out "
                                 "of scope (immediate regions supported)")
            ri = _region_info(body)
            gflags = body.u8()
            if ri["w"] * ri["h"] > _MAX_PIXELS:
                raise ValueError("JBIG2 region too large")
            if gflags & 0x01:                       # MMR=1: T.6 data
                if gflags & 0x08:
                    raise ValueError("JBIG2 TPGDON with MMR: invalid "
                                     "stream")
                bits = g4_decode(body.d[body.pos:], ri["w"], ri["h"])
            else:                                   # MMR=0: MQ coder
                template = (gflags >> 1) & 3
                tpgdon = bool(gflags & 0x08)
                at = _read_at(body, 4 if template == 0 else 1)
                mq = MQDecoder(body.d[body.pos:])
                cxs = _bank(1 << _CTX_BITS[template])
                bits = _decode_generic(mq, cxs, ri["w"], ri["h"],
                                       template, at, tpgdon)
            compose(ri, bits)
        elif t == _T_SYMBOL_DICT:
            input_syms: list = []
            for r in seg["refs"]:
                input_syms.extend(sym_store.get(r, []))
            sym_store[seg["number"]] = _decode_symbol_dict(body, input_syms)
        elif t in _T_TEXT:
            if t == 4:
                raise ValueError("JBIG2 intermediate text region: out of "
                                 "scope (immediate regions supported)")
            syms: list = []
            for r in seg["refs"]:
                syms.extend(sym_store.get(r, []))
            ri = _region_info(body)
            compose(ri, _decode_text_region(body, ri, syms))
        elif t == _T_PATTERN:
            pat_store[seg["number"]] = _decode_pattern_dict(body)
        elif t in _T_HALFTONE:
            if t == 20:
                raise ValueError("JBIG2 intermediate halftone region: out "
                                 "of scope (immediate regions supported)")
            pats: list = []
            for r in seg["refs"]:
                pats.extend(pat_store.get(r, []))
            ri = _region_info(body)
            compose(ri, _decode_halftone_region(body, ri, pats))
        elif t in _T_REFINEMENT:
            if t == 40:
                raise ValueError("JBIG2 intermediate refinement region: "
                                 "out of scope (immediate supported)")
            # §7.4.7 immediate generic refinement region: the reference
            # is the page's CURRENT content under the region box
            ri = _region_info(body)
            rflags = body.u8()
            template = rflags & 1
            if rflags & 0x02:
                raise ValueError("JBIG2 TPGRON refinement rows: out of "
                                 "scope")
            at = _REF_NOMINAL_AT
            if template == 0:
                at = _read_at(body, 2)
                a1 = at[0]
                if not (a1[1] < 0 or (a1[1] == 0 and a1[0] < 0)):
                    raise ValueError("JBIG2 refinement AT1 must be causal")
            if ri["w"] * ri["h"] > _MAX_PIXELS:
                raise ValueError("JBIG2 region too large")
            if page is None:
                raise ValueError("JBIG2 refinement region before any page "
                                 "content")
            ys, xs = ri["y"], ri["x"]
            if ys + ri["h"] > page_h or xs + ri["w"] > page_w:
                raise ValueError("JBIG2 region outside page bounds")
            ref = page[ys:ys + ri["h"], xs:xs + ri["w"]].copy()
            mq = MQDecoder(body.d[body.pos:])
            cxs = _bank(1 << (13 if template == 0 else 10))
            bits = _decode_refinement(mq, cxs, ri["w"], ri["h"],
                                      template, at, ref, 0, 0)
            compose(ri, bits)
        elif t == _T_TABLES:
            raise ValueError("JBIG2 custom code tables: out of scope")
        elif t in _SKIPPABLE:
            pass
        else:
            raise ValueError(f"JBIG2 unknown segment type {t}")
    if page is None:
        raise ValueError("JBIG2 stream has no region")
    return page
