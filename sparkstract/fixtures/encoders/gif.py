"""GIF mirror encoder (fixture side) for functions/gif.py.

Encoder (fixture side): single- or multi-frame, optional interlace, one
global palette — so tests carry genuine GIF bytes through the pipeline.
"""

from __future__ import annotations

import struct

import numpy as np

from ...functions.bits import lzw_encode
from ...functions.gif import _interlace_order


def encode_gif(frames: list[np.ndarray] | np.ndarray,
               palette: np.ndarray | None = None,
               interlace: bool = False) -> bytes:
    """Index frame(s) (uint8 HxW) + palette (Nx3 uint8, default 256-gray)
    -> GIF89a bytes. All frames share the global palette and cover the full
    logical screen (fixture side; the decoder handles partial frames)."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    assert frames, "at least one frame"
    if palette is None:
        palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    npal = len(palette)
    bits = max(1, int(npal - 1).bit_length())
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += palette.astype(np.uint8).tobytes()
    out += b"\x00" * ((1 << bits) - npal) * 3
    for img in frames:
        if img.dtype != np.uint8 or img.shape != (h, w):
            raise ValueError("encode_gif frames must be uint8 and same size")
        if int(img.max(initial=0)) >= npal:
            raise ValueError("index out of palette range")
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                           0x40 if interlace else 0)
        rows = img[_interlace_order(h)] if interlace else img
        min_code = max(2, bits)
        out.append(min_code)
        enc = lzw_encode(rows.tobytes(), early=0, lsb=True,
                         min_bits=min_code)
        for k in range(0, len(enc), 255):
            chunk = enc[k:k + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)
