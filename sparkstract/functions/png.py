"""Minimal pure-Python PNG codec.

The reference ingests any Leptonica-readable raster (SetImage,
/root/reference/src/api/baseapi.cpp:906; pixReadMem sniffs the container and
pixConvertTo8 collapses color to gray before analysis). This container has no
PIL/leptonica, so the fixture generator encodes synthetic pages as real PNGs
with this codec and the decode UDF (operators/decode.py) parses them back.
The point is that the media column holds genuine encoded image bytes — the
Spark-side plumbing (BinaryType column → numpy in an Arrow batch) is the real
thing; only the codec is minimal.

Encoder: filter 0 (None) rows, one zlib stream; grayscale-8 (`encode_gray`,
which thumbnails call at run time). The RGB-8 mirror encoder is
sparkstract/fixtures/encoders/png.py.
Decoder: all five standard PNG filters, color types 0/2/3/4/6 (gray, RGB,
palette, gray+alpha, RGBA) at bit depth 8, 16-bit gray/RGB/RGBA (high
byte taken — the pipeline is 8-bit grayscale), and sub-byte 1/2/4-bit
gray/palette (MSB-first bit packing, byte-padded rows, §13.12 sample
scaling — the bilevel-scan and small-logo shapes). Color collapses to BT.601
luma ((77R + 150G + 29B + 128) >> 8); alpha is dropped, matching
Leptonica's pixConvertRGBToGray which ignores the alpha sample. Interlaced
(Adam7) PNGs de-interlace per spec §8.2 — seven reduced images, each
defiltered against its own previous row, scattered onto the full grid.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .raster import luma

_SIG = b"\x89PNG\r\n\x1a\n"

# samples per pixel by color type (0 gray, 2 RGB, 3 palette, 4 GA, 6 RGBA)
_NSAMP = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_gray(img: np.ndarray, interlace: bool = False) -> bytes:
    """uint8 HxW array -> grayscale-8 PNG bytes. `interlace` writes the
    Adam7 layout (seven reduced images, filter-None scanlines) so the
    decoder's de-interlace path is testable with genuine bytes."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_gray expects a 2-D uint8 array")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1 if interlace else 0)
    if interlace:
        parts = []
        for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(w, h)):
            if pw == 0 or ph == 0:
                continue
            sub = img[y0::dy, x0::dx]
            raw = np.empty((ph, pw + 1), dtype=np.uint8)
            raw[:, 0] = 0
            raw[:, 1:] = sub
            parts.append(raw.tobytes())
        idat = zlib.compress(b"".join(parts), 6)
    else:
        raw = np.empty((h, w + 1), dtype=np.uint8)
        raw[:, 0] = 0  # filter type None per scanline
        raw[:, 1:] = img
        idat = zlib.compress(raw.tobytes(), 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_gray(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 HxW grayscale array (color collapsed to luma)."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = -1
    depth = color = 0
    plte: np.ndarray | None = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace method {interlace}")
            if color not in _NSAMP:
                raise ValueError(f"bad PNG color type {color}")
            if depth != 8 and not (depth == 16 and color in (0, 2, 6)) \
                    and not (depth in (1, 2, 4) and color in (0, 3)):
                raise ValueError(
                    f"PNG bit depth {depth}/color {color}: 8-bit, 16-bit "
                    "gray/RGB/RGBA, and 1/2/4-bit gray/palette supported")
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w < 0:
        raise ValueError("missing IHDR")
    if depth < 8:
        # sub-byte samples (spec §7.2): the filter distance is one BYTE,
        # scanlines are bit-packed MSB-first and byte-padded per row
        bpp = 1
        stride = (w * depth + 7) // 8
        if interlace:
            expect = sum(ph * ((pw * depth + 7) // 8 + 1)
                         for pw, ph in _adam7_dims(w, h))
        else:
            expect = h * (stride + 1)
    else:
        bpp = _NSAMP[color] * (depth // 8)  # filter distance, bytes/pixel
        stride = w * bpp
        if interlace:
            expect = sum(ph * (pw * bpp + 1)
                         for pw, ph in _adam7_dims(w, h))
        else:
            expect = h * (stride + 1)
    if expect > 600_000_000:  # corrupt-header allocation guard
        raise ValueError("PNG dimensions too large")
    # bounded inflate: a crafted IDAT expands ~1000x (decompression bomb
    # inside an executor task) — never inflate past the raster size
    dec = zlib.decompressobj()
    body = dec.decompress(bytes(idat), expect)
    if depth < 8:
        if interlace:
            samples = _deinterlace_adam7_subbyte(body, w, h, depth)
        else:
            raw = np.frombuffer(body[:h * (stride + 1)], dtype=np.uint8)
            if raw.size < h * (stride + 1):
                raise ValueError("truncated PNG raster")
            rows = _defilter(raw.reshape(h, stride + 1),
                             1).reshape(h, stride)
            samples = _unpack_subbyte(rows, w, depth)
        if color == 0:
            # scale to full 8-bit range (§13.12 sample depth scaling)
            return (samples.astype(np.uint16)
                    * (255 // ((1 << depth) - 1))).astype(np.uint8)
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        if int(samples.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        return luma(plte[samples])
    if interlace:
        out = _deinterlace_adam7(body, w, h, bpp)
    else:
        raw = np.frombuffer(body, dtype=np.uint8)
        raw = raw.reshape(h, stride + 1)
        out = _defilter(raw, bpp)
    if depth == 16:
        out = out.reshape(h, w, _NSAMP[color], 2)[:, :, :, 0]  # high byte
    else:
        out = out.reshape(h, w, _NSAMP[color])
    if color == 0:
        return out[:, :, 0].copy()
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        idx = out[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index out of range")
        return luma(plte[idx])
    if color == 4:
        return out[:, :, 0].copy()  # gray, alpha dropped
    return luma(out[:, :, :3])  # 2 / 6: RGB(A)


# Adam7 pass grid (PNG spec §8.2): (x0, y0, dx, dy) per pass — passes 4
# and 6 start at ROW 0 (the 8x8 stencil's first row reads 1 6 4 6 2 6 4 6)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _adam7_dims(w: int, h: int) -> list[tuple[int, int]]:
    """(pass width, pass height) per Adam7 pass; empty passes are (0, x)
    or (x, 0) and carry no scanlines at all (spec §8.2)."""
    return [(-(-(w - x0) // dx) if w > x0 else 0,
             -(-(h - y0) // dy) if h > y0 else 0)
            for x0, y0, dx, dy in _ADAM7]


def _unpack_subbyte(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """Bit-packed MSB-first scanline bytes -> (h, w) sample values."""
    bits = np.unpackbits(rows, axis=1)
    samples = np.zeros((rows.shape[0], w), np.uint8)
    for b in range(depth):   # MSB-first within each byte
        samples = (samples << 1) | bits[:, b::depth][:, :w]
    return samples


def _deinterlace_adam7_subbyte(body: bytes, w: int, h: int,
                               depth: int) -> np.ndarray:
    """Adam7 for sub-byte depths: each pass's scanlines are bit-packed to
    ITS OWN byte-padded stride (filters still act on bytes, distance 1),
    so every pass defilters then unpacks independently before its samples
    scatter onto the full grid."""
    out = np.zeros((h, w), dtype=np.uint8)
    pos = 0
    for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(w, h)):
        if pw == 0 or ph == 0:
            continue
        stride = (pw * depth + 7) // 8
        take = ph * (stride + 1)
        chunk = body[pos:pos + take]
        if len(chunk) < take:
            raise ValueError("truncated interlaced PNG raster")
        pos += take
        raw = np.frombuffer(chunk, dtype=np.uint8).reshape(ph, stride + 1)
        rows = _defilter(raw, 1).reshape(ph, stride)
        out[y0::dy, x0::dx] = _unpack_subbyte(rows, pw, depth)
    return out


def _deinterlace_adam7(body: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Adam7 (§8.2): seven consecutively-stored reduced images, each with
    its own filtered scanlines (filters reference the PASS's previous row,
    not the full image's), scattered onto the full grid."""
    out = np.zeros((h, w, bpp), dtype=np.uint8)
    pos = 0
    dims = _adam7_dims(w, h)
    for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, dims):
        if pw == 0 or ph == 0:
            continue
        take = ph * (pw * bpp + 1)
        chunk = body[pos:pos + take]
        if len(chunk) < take:
            raise ValueError("truncated interlaced PNG raster")
        pos += take
        raw = np.frombuffer(chunk, dtype=np.uint8).reshape(ph, pw * bpp + 1)
        sub = _defilter(raw, bpp).reshape(ph, pw, bpp)
        out[y0::dy, x0::dx, :] = sub
    return out.reshape(h, w * bpp)


def _defilter(raw: np.ndarray, bpp: int) -> np.ndarray:
    """Undo per-scanline PNG filters. raw is (h, stride+1) uint8 with the
    filter byte in column 0; `bpp` is the left-neighbour distance (whole
    pixels, per the spec — filters act on bytes)."""
    h, sp1 = raw.shape
    stride = sp1 - 1
    filters = raw[:, 0]
    out = raw[:, 1:].astype(np.int32).copy()
    if not filters.any():
        return out.astype(np.uint8)  # fast path: all-None filters (our encoder)
    for y in range(h):
        f = filters[y]
        row = out[y]
        up = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.int32)
        if f == 0:
            continue
        elif f == 1:  # Sub
            for x in range(bpp, stride):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif f == 2:  # Up
            out[y] = (row + up) & 0xFF
        elif f == 3:  # Average
            for x in range(bpp):
                row[x] = (row[x] + up[x] // 2) & 0xFF
            for x in range(bpp, stride):
                row[x] = (row[x] + (row[x - bpp] + up[x]) // 2) & 0xFF
        elif f == 4:  # Paeth
            for x in range(bpp):
                row[x] = (row[x] + up[x]) & 0xFF
            for x in range(bpp, stride):
                a, b, c = row[x - bpp], up[x], up[x - bpp]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (row[x] + pr) & 0xFF
        else:
            raise ValueError(f"bad filter {f}")
    return out.astype(np.uint8)
