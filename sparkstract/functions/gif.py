"""Minimal pure-Python GIF codec (GIF87a/89a).

The reference ingests any Leptonica-readable raster (SetImage,
/root/reference/src/api/baseapi.cpp:906; pixReadMem sniffs GIF) — GIF is
still common in web corpora, which is exactly the interleaved-document
input this pipeline targets. Like the PNG/TIFF codecs this is from-scratch:
the media column carries genuine encoded bytes, only the codec is minimal.

Decoder: global/local color tables, interlaced row ordering, multi-frame
streams (each frame composites onto the logical-screen canvas; transparent
pixels per the 89a Graphic Control Extension leave the canvas unchanged),
palette collapsed to BT.601 luma. GIF-LZW (functions/bits.py) is LSB-first
with the width bump at table-full (2^w), unlike TIFF-LZW's early change.

Mirror encoder: sparkstract/fixtures/encoders/gif.py.
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import lzw_decode
from .raster import luma


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    order: list[int] = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


# --------------------------------------------------------------- decoder


def decode_gray_gif(data: bytes) -> list[np.ndarray]:
    """GIF bytes -> list of uint8 HxW grayscale canvases, one per frame
    (palette collapsed to BT.601 luma; partial frames composited onto the
    logical screen; transparency leaves prior canvas pixels)."""
    try:
        return _decode_gray_gif(data)
    except (struct.error, IndexError) as e:
        # truncated/corrupt bytes surface as the codec-contract ValueError
        raise ValueError(f"truncated GIF: {e}") from e


def _decode_gray_gif(data: bytes) -> list[np.ndarray]:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, flags, bg, _ = struct.unpack_from("<HHBBB", data, 6)
    if sw * sh > 100_000_000:   # corrupt-header allocation guard
        raise ValueError("GIF dimensions too large")
    pos = 13
    gpal: np.ndarray | None = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gpal = np.frombuffer(data[pos:pos + 3 * n],
                             dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n
    bg_gray = int(luma(gpal[bg].reshape(1, 1, 3))[0, 0]) \
        if gpal is not None and bg < len(gpal) else 255
    canvas = np.full((sh, sw), bg_gray, dtype=np.uint8)
    pages: list[np.ndarray] = []
    transparent: int | None = None
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            label = data[pos]
            pos += 1
            if label == 0xF9 and data[pos] >= 4:  # Graphic Control
                gflags = data[pos + 1]
                transparent = data[pos + 4] if gflags & 1 else None
            while True:
                size = data[pos]
                pos += 1 + size
                if size == 0:
                    break
            continue
        if b != 0x2C:
            raise ValueError(f"bad GIF block 0x{b:02x}")
        left, top, fw, fh, iflags = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        pal = gpal
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 7)
            pal = np.frombuffer(data[pos:pos + 3 * n],
                                dtype=np.uint8).reshape(-1, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame has no color table")
        min_code = data[pos]
        pos += 1
        enc = bytearray()
        while True:
            size = data[pos]
            pos += 1
            if size == 0:
                break
            enc += data[pos:pos + size]
            pos += size
        idx = np.frombuffer(
            lzw_decode(bytes(enc), early=0, lsb=True, min_bits=min_code,
                       max_out=fw * fh + 4096)[:fw * fh],
            dtype=np.uint8)
        if len(idx) < fw * fh:
            raise ValueError("truncated GIF frame")
        idx = idx.reshape(fh, fw)
        if iflags & 0x40:  # interlaced: rows arrive in 4-pass order
            upright = np.empty_like(idx)
            upright[_interlace_order(fh)] = idx
            idx = upright
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("GIF index out of palette range")
        gray = luma(pal[idx])
        if left + fw > sw or top + fh > sh:
            raise ValueError("GIF frame exceeds logical screen")
        target = canvas[top:top + fh, left:left + fw]
        if transparent is not None:
            mask = idx != transparent
            target[mask] = gray[mask]
        else:
            target[:] = gray
        pages.append(canvas.copy())
        transparent = None
    if not pages:
        raise ValueError("GIF has no frames")
    return pages
