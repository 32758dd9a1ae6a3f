"""PNG RGB-8 mirror encoder (fixture side) for functions/png.py.

Filter 0 (None) rows, one zlib stream; the grayscale encoder stays in
functions/png.py because thumbnails call it at run time.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from ...functions.png import _SIG, _chunk


def encode_rgb(img: np.ndarray) -> bytes:
    """uint8 HxWx3 array -> truecolor-8 PNG bytes (fixture side, so tests
    carry genuine color PNGs through the gray pipeline)."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_rgb expects an HxWx3 uint8 array")
    h, w, _ = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # bitdepth 8, RGB
    raw = np.empty((h, 1 + 3 * w), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img.reshape(h, 3 * w)
    idat = zlib.compress(raw.tobytes(), 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")
