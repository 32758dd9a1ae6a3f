"""WebP lossless (VP8L) and ALPH mirror writers (fixture side) for
functions/webp.py.

Encoder (fixture-side only, like encode_gray_tiff): gray pages as
subtract-green + literal greens under a canonical prefix code, 0-bit
simple codes for the constant red/blue/alpha/distance alphabets. The
encoder exists so tests and fixtures carry genuine VP8L bytes; the parser
is the product surface.
"""

from __future__ import annotations

import heapq

import numpy as np

from ...functions.bits import LsbWriter, canonical_codes
from ...functions.webp import _CLC_ORDER, _MAX_CODE_LEN


def _fwd_alpha_filter(v: np.ndarray, method: int) -> np.ndarray:
    """Fixture-side forward filter: delta = (value - pred) & 0xFF with
    preds computed from the ORIGINAL plane — fully vectorized (the
    encoder sees all true neighbors up front)."""
    if method == 0:
        return v
    v64 = v.astype(np.int64)
    pred = np.zeros_like(v64)
    if method == 1:
        pred[:, 1:] = v64[:, :-1]
        pred[1:, 0] = v64[:-1, 0]
    elif method == 2:
        pred[1:, :] = v64[:-1, :]
        pred[0, 1:] = v64[0, :-1]
    else:
        pred[1:, 1:] = np.clip(
            v64[1:, :-1] + v64[:-1, 1:] - v64[:-1, :-1], 0, 255)
        pred[0, 1:] = v64[0, :-1]
        pred[1:, 0] = v64[:-1, 0]
    return ((v64 - pred) & 0xFF).astype(np.uint8)


def encode_alpha_body(alpha: np.ndarray, compressed: bool = False,
                      filt: int = 0) -> bytes:
    """Fixture-side ALPH body writer: forward-filter then optionally
    compress as a headerless VP8L stream (subtract-green + literal greens,
    like encode_gray_webp)."""
    if alpha.dtype != np.uint8 or alpha.ndim != 2:
        raise ValueError("encode_alpha_body expects HxW uint8")
    plane = _fwd_alpha_filter(alpha, filt)
    head = bytes([(filt << 2) | (1 if compressed else 0)])
    if not compressed:
        return head + plane.tobytes()
    return head + _vp8l_gray_payload(plane, headerless=True)


def _huffman_lengths(freq: dict[int, int], max_len: int) -> dict[int, int]:
    """Code lengths from frequencies, depth-limited by iterative overflow
    push-down (the DEFLATE bit-length adjustment)."""
    if len(freq) == 1:
        return {next(iter(freq)): 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freq.items()))]
    heapq.heapify(heap)
    depth = dict.fromkeys(freq, 0)
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, i2, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, i2, s1 + s2))
    # limit depth: move overflowing leaves up, paying by pushing a
    # shallower leaf down (keeps Kraft equality)
    while max(depth.values()) > max_len:
        over = next(s for s, d in depth.items() if d > max_len)
        depth[over] = max_len
        # restore Kraft: find a leaf above the limit-1 to push down
        kraft = sum(2.0 ** -d for d in depth.values())
        while kraft > 1.0:
            cand = min((s for s, d in depth.items() if d < max_len),
                       key=lambda s: depth[s])
            kraft -= 2.0 ** -depth[cand]
            depth[cand] += 1
            kraft += 2.0 ** -depth[cand]
    return depth


def _write_simple_code(bw: LsbWriter, symbol: int) -> None:
    bw.write(1, 1)          # simple
    bw.write(0, 1)          # one symbol
    if symbol < 2:
        bw.write(0, 1)      # 1-bit symbol
        bw.write(symbol, 1)
    else:
        bw.write(1, 1)      # 8-bit symbol
        bw.write(symbol, 8)


def _write_full_code(bw: LsbWriter, lengths: dict[int, int],
                     alphabet: int) -> None:
    """Code-length-coded prefix code (§5.2.2), 0-runs via 17/18."""
    seq: list[int] = []
    arr = [lengths.get(i, 0) for i in range(alphabet)]
    # without the optional max_symbol field the reader consumes length
    # entries for the WHOLE alphabet, so trailing zeros are spelled out as
    # 17/18 runs to the end
    i = 0
    while i < alphabet:
        if arr[i] == 0:
            run = 1
            while i + run < alphabet and arr[i + run] == 0:
                run += 1
            while run >= 3:
                take = min(run, 138)
                if take < 11:
                    seq.append((17, take - 3, 3))
                else:
                    seq.append((18, take - 11, 7))
                run -= take
                i += take
            for _ in range(run):
                seq.append((0, 0, 0))
                i += 1
        else:
            seq.append((arr[i], 0, 0))
            i += 1
    clc_freq: dict[int, int] = {}
    for sym, _, _ in seq:
        clc_freq[sym] = clc_freq.get(sym, 0) + 1
    clc_len = _huffman_lengths(clc_freq, 7)
    if len(clc_freq) == 1:
        # a 1-entry code-length code still needs a second symbol so the
        # canonical code is well-formed at length 1
        only = next(iter(clc_freq))
        clc_len = {only: 1, (only + 1) % 19: 1}
    clc_codes = canonical_codes([clc_len.get(i, 0) for i in range(19)])
    bw.write(0, 1)   # not simple
    n_clc = max(i for i, sym in enumerate(_CLC_ORDER)
                if clc_len.get(sym, 0)) + 1
    n_clc = max(n_clc, 4)
    bw.write(n_clc - 4, 4)
    for i in range(n_clc):
        bw.write(clc_len.get(_CLC_ORDER[i], 0), 3)
    bw.write(0, 1)   # no max_symbol field
    for sym, extra, ebits in seq:
        c, ln = clc_codes[sym]
        bw.write_code(c, ln)
        if ebits:
            bw.write(extra, ebits)


def _vp8l_gray_payload(img: np.ndarray, headerless: bool = False) -> bytes:
    """uint8 HxW gray -> VP8L stream bytes: subtract-green + literal
    greens under one canonical prefix code; red/blue/alpha/distance ride
    0-bit single-symbol codes (after subtract-green, r' = b' = 0
    everywhere). `headerless` omits the signature/dimension header — the
    ALPH compressed-alpha stream shape."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_gray_webp expects HxW uint8")
    h, w = img.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("encode_gray_webp dimensions out of range")
    bw = LsbWriter()
    if not headerless:
        bw.write(0x2F, 8)
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)   # no alpha
        bw.write(0, 3)   # version
    bw.write(1, 1)   # a transform follows
    bw.write(2, 2)   # subtract green
    bw.write(0, 1)   # no more transforms
    bw.write(0, 1)   # no color cache
    bw.write(0, 1)   # no meta prefix image
    vals, counts = np.unique(img, return_counts=True)
    green_alpha = 256 + 24
    glen = _huffman_lengths(
        {int(v): int(c) for v, c in zip(vals, counts)}, _MAX_CODE_LEN)
    if len(glen) == 1:
        only = next(iter(glen))
        glen = {only: 1, (only + 1) % 256: 1}
    _write_full_code(bw, glen, green_alpha)
    gcodes = canonical_codes([glen.get(i, 0) for i in range(256)])
    _write_simple_code(bw, 0)     # red
    _write_simple_code(bw, 0)     # blue
    _write_simple_code(bw, 255)   # alpha
    _write_simple_code(bw, 0)     # distance
    for v in img.ravel().tolist():
        bw.write_code(*gcodes[v])
    return bw.bytes()


def encode_gray_webp(img: np.ndarray) -> bytes:
    """uint8 HxW gray -> lossless WEBP container bytes. Fixture-side
    writer, like encode_gray_tiff."""
    payload = _vp8l_gray_payload(img)
    riff_size = 4 + 8 + len(payload) + (len(payload) & 1)
    out = bytearray()
    out += b"RIFF" + riff_size.to_bytes(4, "little") + b"WEBP"
    out += b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        out += b"\x00"
    return bytes(out)
