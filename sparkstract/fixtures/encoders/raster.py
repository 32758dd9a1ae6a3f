"""PNM, BMP and ICO mirror encoders (fixture side) for functions/raster.py.
"""

from __future__ import annotations

import struct

import numpy as np


def encode_gray_pnm(img: np.ndarray, binary: bool = True) -> bytes:
    """uint8 HxW -> P5 (binary) or P2 (ASCII) PGM bytes."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_gray_pnm expects a 2-D uint8 array")
    h, w = img.shape
    if binary:
        return b"P5\n%d %d\n255\n" % (w, h) + img.tobytes()
    body = "\n".join(" ".join(str(v) for v in row) for row in img.tolist())
    return (f"P2\n{w} {h}\n255\n{body}\n").encode()


def encode_gray_ico(img: np.ndarray, entry: str = "dib32",
                    decoys: int = 0) -> bytes:
    """uint8 HxW (<= 256 each) -> ICO bytes. `entry` picks the payload
    shape: "dib32" (BGRA DIB, opaque alpha, empty AND mask), "dib32mask"
    (zero alpha, AND mask carries transparency — the legacy shape),
    "pal8" (8-bit palette DIB + mask rows), or "png". `decoys` prepends
    smaller 4x4 entries so largest-entry selection is exercised."""
    h, w = img.shape
    if w > 256 or h > 256:
        raise ValueError("ICO entries cap at 256x256")

    def dib(img2: np.ndarray, kind: str) -> bytes:
        hh, ww = img2.shape
        mstride = ((ww + 7) // 8 + 3) & ~3
        mask_rows = np.zeros((hh, mstride), np.uint8)
        if kind == "pal8":
            pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
            stride = (ww + 3) & ~3
            rows = np.zeros((hh, stride), np.uint8)
            rows[:, :ww] = img2[::-1]
            hdr = struct.pack("<IiiHHIIiiII", 40, ww, 2 * hh, 1, 8, 0,
                              0, 0, 0, 256, 0)
            return hdr + pal + rows.tobytes() + mask_rows.tobytes()
        rows = np.zeros((hh, ww, 4), np.uint8)
        rows[:, :, 0] = rows[:, :, 1] = rows[:, :, 2] = img2[::-1]
        if kind == "dib32":
            rows[:, :, 3] = 255
        else:                               # dib32mask: alpha dead,
            mask_rows[:, : (ww + 7) // 8] = 0   # AND mask fully opaque
        hdr = struct.pack("<IiiHHIIiiII", 40, ww, 2 * hh, 1, 32, 0,
                          0, 0, 0, 0, 0)
        return hdr + rows.tobytes() + mask_rows.tobytes()

    entries = []
    for _ in range(decoys):
        entries.append((4, 4, dib(np.full((4, 4), 128, np.uint8),
                                  "dib32")))
    if entry == "png":
        from ...functions.png import encode_gray

        entries.append((w, h, encode_gray(img)))
    else:
        entries.append((w, h, dib(img, entry)))
    out = bytearray(b"\x00\x00\x01\x00"
                    + len(entries).to_bytes(2, "little"))
    ofs = 6 + 16 * len(entries)
    for ew, eh, body in entries:
        out += bytes([ew % 256, eh % 256, 0, 0]) + (1).to_bytes(2, "little")
        out += (32).to_bytes(2, "little")
        out += len(body).to_bytes(4, "little") + ofs.to_bytes(4, "little")
        ofs += len(body)
    for _, _, body in entries:
        out += body
    return bytes(out)


def encode_gray_bmp(img: np.ndarray) -> bytes:
    """uint8 HxW -> 8-bit palette BMP (grayscale palette, bottom-up rows)."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_gray_bmp expects a 2-D uint8 array")
    h, w = img.shape
    stride = (w + 3) & ~3
    palette = b"".join(struct.pack("<BBBB", i, i, i, 0) for i in range(256))
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = img[::-1]  # bottom-up
    data_off = 14 + 40 + len(palette)
    size = data_off + rows.size
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, rows.size,
                       2835, 2835, 256, 0)
    return header + info + palette + rows.tobytes()
