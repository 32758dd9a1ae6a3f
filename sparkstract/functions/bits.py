"""Bit-level primitives shared by the codecs: MSB- and LSB-first bit
readers and writers, canonical prefix-code assignment, and the one LZW
codec behind TIFF compression 5, PDF /LZWDecode and GIF.

Readers whose end-of-data or stuffing rule is format-specific stay with
their codec: JPEG (0xFF byte stuffing), VP8L (`peek15` lookahead that
raises on truncation), CCITT (zero-padded peek), JBIG2 Huffman (its own
truncation error), the JPEG 2000 packet headers (bit stuffing) and the
VP8 bool coder.
"""

from __future__ import annotations


class MsbReader:
    """Fixed-width reads, most-significant bit first. `read` returns None
    once fewer than `width` bits remain."""

    __slots__ = ("_data", "_pos", "_acc", "_nbits")

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0
        self._acc = 0
        self._nbits = 0

    def read(self, width: int) -> int | None:
        acc, nbits = self._acc, self._nbits
        while nbits < width:
            if self._pos >= len(self._data):
                return None
            acc = (acc << 8) | self._data[self._pos]
            self._pos += 1
            nbits += 8
        nbits -= width
        self._acc = acc & ((1 << nbits) - 1)
        self._nbits = nbits
        return acc >> nbits


class LsbReader:
    """Fixed-width reads, least-significant bit first (the GIF packing).
    `read` returns None once fewer than `width` bits remain."""

    __slots__ = ("_data", "_pos", "_acc", "_nbits")

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._pos = 0
        self._acc = 0
        self._nbits = 0

    def read(self, width: int) -> int | None:
        acc, nbits = self._acc, self._nbits
        while nbits < width:
            if self._pos >= len(self._data):
                return None
            acc |= self._data[self._pos] << nbits
            self._pos += 1
            nbits += 8
        self._acc = acc >> width
        self._nbits = nbits - width
        return acc & ((1 << width) - 1)


class MsbWriter:
    """Packs values most-significant bit first; `bytes()` zero-pads the
    last byte."""

    __slots__ = ("_out", "_acc", "_nbits")

    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, width: int) -> None:
        acc = (self._acc << width) | (value & ((1 << width) - 1))
        nbits = self._nbits + width
        while nbits >= 8:
            nbits -= 8
            self._out.append((acc >> nbits) & 0xFF)
        self._acc = acc & ((1 << nbits) - 1)
        self._nbits = nbits

    def align(self) -> None:
        if self._nbits:
            self.write(0, 8 - self._nbits)

    def put_aligned(self, data: bytes) -> None:
        self.align()
        self._out += data

    def bytes(self) -> bytes:
        self.align()
        return bytes(self._out)


class LsbWriter:
    """Packs values least-significant bit first; `bytes()` zero-pads the
    last byte."""

    __slots__ = ("_out", "_acc", "_nbits")

    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, width: int) -> None:
        acc = self._acc | (value & ((1 << width) - 1)) << self._nbits
        nbits = self._nbits + width
        while nbits >= 8:
            self._out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        self._acc = acc
        self._nbits = nbits

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits go to the stream MSB-first (DEFLATE rule)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def bytes(self) -> bytes:
        out = bytes(self._out)
        if self._nbits:
            out += bytes([self._acc & 0xFF])
        return out


def canonical_codes(lengths: list[int]) -> list[tuple[int, int] | None]:
    """Canonical prefix codes: `(code, length)` per entry of `lengths`,
    None where the length is 0. Codes count up by length; entries of equal
    length take consecutive codes in input order — JPEG HUFFVAL order,
    DEFLATE/VP8L symbol order, JBIG2 B.3 table-line order."""
    codes: list[tuple[int, int] | None] = [None] * len(lengths)
    code = prev = 0
    live = [i for i, ln in enumerate(lengths) if ln]
    live.sort(key=lengths.__getitem__)
    for i in live:
        ln = lengths[i]
        code <<= ln - prev
        codes[i] = (code, ln)
        code += 1
        prev = ln
    return codes


# ------------------------------------------------------------------- LZW
#
# Codes 0..2^min_bits-1 are literals, then CLEAR and EOI; widths run from
# min_bits + 1 to 12 bits. The decoder's table lags the encoder's by one
# entry (the first code after CLEAR adds nothing), so the decoder widens
# when next_code + early == 2^width and the encoder one entry later.
# `early` is 1 for TIFF (libtiff tif_lzw.c) and PDF's default
# /EarlyChange, 0 for /EarlyChange 0 and GIF — pdf.js's LZWStream rule.

_LZW_MAX_WIDTH = 12


def lzw_decode(data: bytes, *, early: int, lsb: bool = False,
               min_bits: int = 8, max_out: int | None = None) -> bytes:
    """Decode one LZW stream; ends at EOI or at the end of the data.
    `max_out` caps the decoded size (callers know the raster size):
    without it a crafted stream expands ~4096x — a decompression bomb
    inside an executor task."""
    if not 0 <= min_bits <= 8:
        raise ValueError("corrupt LZW stream")
    read = (LsbReader if lsb else MsbReader)(data).read
    clear = 1 << min_bits
    eoi = clear + 1
    fresh = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(fresh)
    width = min_bits + 1
    prev = None
    out = bytearray()
    while True:
        code = read(width)
        if code is None or code == eoi:
            break
        if code == clear:
            table = list(fresh)
            width = min_bits + 1
            prev = None
            continue
        n = len(table)
        if code < n:  # after CLEAR (prev None) the table holds literals only
            entry = table[code]
        elif code == n and prev is not None:  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt LZW stream")
        if prev is not None and n < 1 << _LZW_MAX_WIDTH:
            table.append(prev + entry[:1])
            if n + 1 + early == 1 << width and width < _LZW_MAX_WIDTH:
                width += 1
        out += entry
        prev = entry
        if max_out is not None and len(out) > max_out:
            raise ValueError("LZW output exceeds expected size")
    return bytes(out)


def lzw_encode(data: bytes, *, early: int, lsb: bool = False,
               min_bits: int = 8) -> bytes:
    """Encode `data` (symbols below 2^min_bits) as CLEAR, codes, EOI.
    The table restarts with a CLEAR before it can outgrow 12-bit codes."""
    bw = LsbWriter() if lsb else MsbWriter()
    clear = 1 << min_bits
    fresh = {bytes([i]): i for i in range(clear)}
    table, next_code, width = dict(fresh), clear + 2, min_bits + 1

    def grow() -> None:
        nonlocal next_code, width
        next_code += 1
        if next_code + early == (1 << width) + 1 and width < _LZW_MAX_WIDTH:
            width += 1

    bw.write(clear, width)
    w = b""
    for byte in data:
        c = bytes([byte])
        wc = w + c
        if wc in table:
            w = wc
            continue
        bw.write(table[w], width)
        table[wc] = next_code
        grow()
        w = c
        if next_code >= (1 << _LZW_MAX_WIDTH) - 1 - early:
            bw.write(table[w], width)
            bw.write(clear, width)
            table, next_code, width = dict(fresh), clear + 2, min_bits + 1
            w = b""
    if w:
        bw.write(table[w], width)
        grow()  # the decoder adds an entry for the last code before EOI
    bw.write(clear + 1, width)
    return bw.bytes()
