"""CCITT fax mirror encoders (fixture side) for functions/ccitt.py:
Group 4 (T.6), Group 3 (T.4, 1D and 2D rows) and modified Huffman.
"""

from __future__ import annotations

import numpy as np

from ...functions.bits import MsbWriter
from ...functions.ccitt import _MAKEUP, _TERM, _b1_b2


# T.6 §4.2.1 two-dimensional mode codes. Vertical offsets keyed by a1-b1.
_V_CODES = {0: "1", 1: "011", -1: "010", 2: "000011", -2: "000010",
            3: "0000011", -3: "0000010"}


_H_CODE = "001"


_P_CODE = "0001"


_EOL = "000000000001"


def _emit(bw: MsbWriter, code: str) -> None:
    bw.write(int(code, 2), len(code))


def _emit_run(bw: MsbWriter, run: int, color: int) -> None:
    """One run as (0+ makeup codes) + exactly one terminating code. Runs
    past 2560 repeat the largest extended makeup (T.4 §2.2.2.3 note)."""
    while run >= 64:
        m = min((run // 64) * 64, 2560)
        _emit(bw, _MAKEUP[color][m])
        run -= m
    _emit(bw, _TERM[color][run])


def _changes(row: np.ndarray) -> list[int]:
    """Changing elements: positions whose color differs from the pixel to
    their left (row starts with an imaginary white pixel), T.6 §4.2.1.1."""
    d = np.flatnonzero(np.diff(np.concatenate(
        (np.zeros(1, dtype=np.int8), row.astype(np.int8)))))
    return d.tolist()


def g4_encode(bits: np.ndarray, align: bool = False) -> bytes:
    """HxW 0/1 array (1 = black) -> one T.6-coded block, EOFB-terminated.
    `align` pads each row's codes to a byte boundary (the PDF
    /EncodedByteAlign shape, ISO 32000 §7.4.6)."""
    if bits.ndim != 2:
        raise ValueError("g4_encode expects an HxW bilevel array")
    h, w = bits.shape
    bw = MsbWriter()
    ref: list[int] = []      # imaginary all-white reference line above row 0
    for y in range(h):
        cur = _changes(bits[y])
        a0, color, k = -1, 0, 0
        while a0 < w:
            while k < len(cur) and cur[k] <= a0:
                k += 1
            a1 = cur[k] if k < len(cur) else w
            b1, b2 = _b1_b2(ref, a0, color, w)
            if b2 < a1:
                _emit(bw, _P_CODE)
                a0 = b2
            elif abs(a1 - b1) <= 3:
                _emit(bw, _V_CODES[a1 - b1])
                a0 = a1
                color ^= 1
            else:
                j = k
                while j < len(cur) and cur[j] <= a1:
                    j += 1
                a2 = cur[j] if j < len(cur) else w
                base = a0 if a0 > 0 else 0
                _emit(bw, _H_CODE)
                _emit_run(bw, a1 - base, color)
                _emit_run(bw, a2 - a1, color ^ 1)
                a0 = a2
        ref = cur
        if align:
            bw.align()
    _emit(bw, _EOL + _EOL)   # EOFB
    return bw.bytes()


def mh_encode(bits: np.ndarray) -> bytes:
    """HxW 0/1 array -> TIFF compression-2 bytes (MH rows, byte-aligned)."""
    if bits.ndim != 2:
        raise ValueError("mh_encode expects an HxW bilevel array")
    h, w = bits.shape
    out = bytearray()
    for y in range(h):
        bw = MsbWriter()
        pos, color = 0, 0
        changes = _changes(bits[y])
        for nxt in changes + [w]:
            _emit_run(bw, nxt - pos, color)
            pos, color = nxt, color ^ 1
            if pos >= w:
                break
        out += bw.bytes()                # bytes() pads to the boundary
    return bytes(out)


def g3_encode(bits: np.ndarray) -> bytes:
    """HxW 0/1 array -> TIFF compression-3 bytes (1D rows, an EOL before
    every row, no fill, no RTC — T4Options = 0)."""
    if bits.ndim != 2:
        raise ValueError("g3_encode expects an HxW bilevel array")
    h, w = bits.shape
    bw = MsbWriter()
    for y in range(h):
        _emit(bw, _EOL)
        pos, color = 0, 0
        for nxt in _changes(bits[y]) + [w]:
            _emit_run(bw, nxt - pos, color)
            pos, color = nxt, color ^ 1
            if pos >= w:
                break
    return bw.bytes()
