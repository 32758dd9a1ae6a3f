"""Minimal pure-Python PNM (P1-P6) and BMP (8/24/32-bit) grayscale codecs.

Rounds out the SetImage ingest matrix (the reference reads any
Leptonica-supported raster — TIFF/PNG/JPEG/BMP/PNM/WEBP, SetImage
/root/reference/src/api/baseapi.cpp:881,906). JPEG/WEBP stay out of scope
(a DCT/VP8 decoder is a project of its own and the container has no codec
libs); PNM and BMP are byte-level formats the same class as png.py/tiff.py.

Mirror encoders (PNM, BMP, ICO): sparkstract/fixtures/encoders/raster.py.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------- PNM (PGM)


def _pnm_tokens(data: bytes, n: int, pos: int) -> tuple[list[int], int]:
    """Read n whitespace-separated ints, skipping '#' comments."""
    out: list[int] = []
    cur = b""
    while len(out) < n and pos <= len(data):
        c = data[pos : pos + 1]
        pos += 1
        if c == b"#":
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
            continue
        if c.isdigit():
            cur += c
        elif cur:
            out.append(int(cur))
            cur = b""
        if not c and cur:
            out.append(int(cur))
            cur = b""
    if len(out) < n:
        raise ValueError("truncated PNM header")
    return out, pos


def decode_gray_pnm(data: bytes) -> np.ndarray:
    """PNM bytes -> uint8 HxW grayscale. All six classic formats:
    P1/P4 bitmaps (1 = black per the PBM spec -> 0 ink on white 255),
    P2/P5 graymaps (maxval <= 255), P3/P6 pixmaps (BT.601 luma)."""
    magic = data[:2]
    if magic in (b"P1", b"P4"):
        (w, h), pos = _pnm_tokens(data, 2, 2)
        if magic == b"P4":                 # packed bits, MSB-first per row
            stride = (w + 7) // 8
            raw = np.frombuffer(data[pos : pos + h * stride], dtype=np.uint8)
            if raw.size < h * stride:
                raise ValueError("truncated PBM raster")
            bits = np.unpackbits(raw.reshape(h, stride), axis=1)[:, :w]
        else:                              # ASCII 0/1, whitespace optional
            digs = [c - 48 for c in data[pos:] if c in (48, 49)]
            if len(digs) < h * w:
                raise ValueError("truncated PBM raster")
            bits = np.array(digs[: h * w], dtype=np.uint8).reshape(h, w)
        return np.where(bits == 1, 0, 255).astype(np.uint8)
    if magic not in (b"P5", b"P2", b"P3", b"P6"):
        raise ValueError("not a PNM (P1-P6)")
    (w, h, maxval), pos = _pnm_tokens(data, 3, 2)
    if not 0 < maxval < 65536:
        raise ValueError("PNM maxval out of range")
    nsamp = 3 if magic in (b"P3", b"P6") else 1
    if magic in (b"P5", b"P6"):
        # exactly one whitespace byte separates maxval from raster data;
        # _pnm_tokens already consumed it. maxval > 255 means two-byte
        # BIG-endian samples (Netpbm "plain" rule, pgm(5))
        if maxval > 255:
            raw = np.frombuffer(data[pos : pos + h * w * nsamp * 2],
                                dtype=">u2")
        else:
            raw = np.frombuffer(data[pos : pos + h * w * nsamp],
                                dtype=np.uint8)
        if raw.size < h * w * nsamp:
            raise ValueError("truncated PNM raster")
        img = raw.astype(np.float64)
    else:
        vals, _ = _pnm_tokens(data, h * w * nsamp, pos)
        img = np.array(vals, dtype=np.float64)
    if maxval != 255:
        img = img * (255.0 / maxval)
    img = np.clip(np.rint(img), 0, 255).astype(np.uint8)
    if nsamp == 3:
        return luma(img.reshape(h, w, 3))
    return img.reshape(h, w)


# ------------------------------------------------------------------ ICO/CUR


def decode_gray_ico(data: bytes) -> np.ndarray:
    """ICO/CUR favicon container -> gray of the LARGEST entry. Entries
    are PNG (the modern shape) or a headerless DIB whose biHeight is
    DOUBLED for the appended 1-bit AND transparency mask; masked pixels
    composite onto white, and a 32-bit entry with a live alpha channel
    uses the alpha instead (the empty-AND-mask shape modern editors
    write). Favicons are a standing slice of crawl media."""
    if len(data) < 6 or data[:4] not in (b"\x00\x00\x01\x00",
                                         b"\x00\x00\x02\x00"):
        raise ValueError("not an ICO/CUR")
    count = int.from_bytes(data[4:6], "little")
    if not 0 < count <= 1024:
        raise ValueError("ICO entry count out of range")
    best = None
    for i in range(count):
        off = 6 + 16 * i
        if off + 16 > len(data):
            raise ValueError("truncated ICO directory")
        ew = data[off] or 256
        eh = data[off + 1] or 256
        size, ofs = struct.unpack_from("<II", data, off + 8)
        if best is None or ew * eh > best[0]:
            best = (ew * eh, ew, eh, size, ofs)
    _, w, h, size, ofs = best
    if ofs + size > len(data) or size < 8:
        raise ValueError("truncated ICO entry")
    body = data[ofs:ofs + size]
    if body[:8] == b"\x89PNG\r\n\x1a\n":
        from .png import decode_gray as decode_gray_png

        return decode_gray_png(body)
    if len(body) < 40:
        raise ValueError("truncated ICO DIB header")
    hdr_size, bw, bh2, _planes, bpp, comp = struct.unpack_from(
        "<IiiHHI", body, 0)
    if hdr_size != 40 or comp != 0:
        raise ValueError("ICO DIB: only BITMAPINFOHEADER BI_RGB entries "
                         "supported")
    if bw != w or abs(bh2) not in (h, 2 * h):
        raise ValueError("ICO DIB dimensions disagree with the directory")
    has_mask = abs(bh2) == 2 * h
    xor_h = abs(bh2) // 2 if has_mask else abs(bh2)
    n_colors = 0
    if bpp <= 8:
        n_colors = struct.unpack_from("<I", body, 32)[0] or (1 << bpp)
    data_off = 14 + hdr_size + 4 * n_colors
    patched = bytearray(body)
    struct.pack_into("<i", patched, 8, xor_h if bh2 > 0 else -xor_h)
    file_hdr = (b"BM" + (14 + len(patched)).to_bytes(4, "little")
                + b"\x00\x00\x00\x00" + data_off.to_bytes(4, "little"))
    gray = decode_gray_bmp(file_hdr + bytes(patched))
    alpha = None
    if bpp == 32:
        stride = w * 4
        raw = np.frombuffer(body, np.uint8,
                            count=xor_h * stride,
                            offset=hdr_size).reshape(xor_h, stride)
        a = raw[:, 3::4][:, :w]
        if bh2 > 0:
            a = a[::-1]
        if a.any():
            alpha = a
    if alpha is None and has_mask:
        mstride = ((w + 7) // 8 + 3) & ~3
        moff = hdr_size + 4 * n_colors + xor_h * (
            ((w * bpp + 7) // 8 + 3) & ~3)
        rows = np.frombuffer(body, np.uint8, count=xor_h * mstride,
                             offset=moff).reshape(xor_h, mstride)
        mask = np.unpackbits(rows, axis=1)[:, :w]
        if bh2 > 0:
            mask = mask[::-1]
        alpha = ((1 - mask) * 255).astype(np.uint8)
    if alpha is not None:
        g32 = gray.astype(np.int64)
        a32 = alpha.astype(np.int64)
        gray = ((g32 * a32 + 255 * (255 - a32) + 127) // 255
                ).astype(np.uint8)
    return gray


# ----------------------------------------------------------------- BMP 8bpp


def _bmp_rle8(data: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE8 (Windows BMP spec): (count, value) runs; escapes 0=end of
    line, 1=end of bitmap, 2=delta (dx, dy), >=3 absolute literal run
    padded to a word boundary.  Rows come bottom-up like BI_RGB."""
    out = np.zeros((h, w), np.uint8)
    x = y = pos = 0
    n = len(data)
    while pos + 1 < n:
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt:
            run = min(cnt, w - x)
            if y < h:
                out[y, x:x + run] = val
            x += cnt
        elif val == 0:        # end of line
            x, y = 0, y + 1
        elif val == 1:        # end of bitmap
            break
        elif val == 2:        # delta
            if pos + 1 >= n:
                raise ValueError("truncated BMP RLE delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:                 # absolute literal run
            if pos + val > n:
                raise ValueError("truncated BMP RLE literal")
            run = min(val, max(0, w - x))
            if y < h:
                out[y, x:x + run] = np.frombuffer(
                    data[pos:pos + run], np.uint8)
            x += val
            pos += val + (val & 1)   # word-aligned
        if y > h:
            raise ValueError("BMP RLE overruns the declared height")
    return out[::-1]


def _bmp_rle4(data: bytes, w: int, h: int) -> np.ndarray:
    """BI_RLE4: like RLE8 but runs alternate the value byte's two nibbles
    and absolute literal runs pack two pixels per byte (word-aligned)."""
    out = np.zeros((h, w), np.uint8)
    x = y = pos = 0
    n = len(data)
    while pos + 1 < n:
        cnt, val = data[pos], data[pos + 1]
        pos += 2
        if cnt:
            if y < h:
                run = min(cnt, max(0, w - x))
                pair = np.array([val >> 4, val & 0x0F], np.uint8)
                out[y, x:x + run] = np.tile(pair, (cnt + 1) // 2)[:run]
            x += cnt
        elif val == 0:        # end of line
            x, y = 0, y + 1
        elif val == 1:        # end of bitmap
            break
        elif val == 2:        # delta
            if pos + 1 >= n:
                raise ValueError("truncated BMP RLE delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
        else:                 # absolute literal run of `val` pixels
            nbytes = (val + 1) // 2
            if pos + nbytes > n:
                raise ValueError("truncated BMP RLE literal")
            lit = np.frombuffer(data[pos:pos + nbytes], np.uint8)
            nibbles = np.empty(nbytes * 2, np.uint8)
            nibbles[0::2] = lit >> 4
            nibbles[1::2] = lit & 0x0F
            if y < h:
                run = min(val, max(0, w - x))
                out[y, x:x + run] = nibbles[:run]
            x += val
            pos += nbytes + (nbytes & 1)     # word-aligned
        if y > h:
            raise ValueError("BMP RLE overruns the declared height")
    return out[::-1]


def _mask_channel(px: np.ndarray, mask: int) -> np.ndarray:
    """Extract a BI_BITFIELDS channel and scale it to 8 bits."""
    if mask == 0:
        return np.zeros(px.shape, np.uint8)
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    v = (px >> shift) & ((1 << width) - 1)
    if width >= 8:
        return (v >> (width - 8)).astype(np.uint8)
    # replicate high bits into the low end (the standard 5/6-bit expand)
    v = v.astype(np.uint32) << (8 - width)
    return (v | (v >> width)).astype(np.uint8)


def decode_gray_bmp(data: bytes) -> np.ndarray:
    """BMP bytes -> uint8 HxW grayscale: 1/4/8-bit palette (palette luma,
    MSB-first packing for sub-byte), 24/32-bit BGR(A) truecolor (BT.601
    luma, alpha/padding byte dropped), BI_RLE8 + BI_RLE4 runs, and
    BI_BITFIELDS 16/32-bit with arbitrary contiguous channel masks (incl.
    the 565/555 shapes; 16-bit BI_RGB defaults to 555 per the spec)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack_from("<I", data, 10)
    hdr_size, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    if comp not in (0, 1, 2, 3) or bpp not in (1, 4, 8, 16, 24, 32) \
            or (comp == 1 and bpp != 8) or (comp == 2 and bpp != 4) \
            or (comp == 3 and bpp not in (16, 32)):
        raise ValueError("only BI_RGB 1/4/8/16/24/32-bit, BI_RLE8/RLE4 "
                         "or BI_BITFIELDS 16/32-bit BMP supported")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError("BMP dimensions invalid or too large")
    if bpp <= 8:
        n_colors = struct.unpack_from("<I", data, 46)[0] or (1 << bpp)
        pal_off = 14 + hdr_size
        pal = np.frombuffer(data[pal_off : pal_off + 4 * n_colors],
                            dtype=np.uint8).reshape(-1, 4)
        # BGRA entries (a gray palette maps to identity)
        pal_gray = luma(pal[:, 2], pal[:, 1], pal[:, 0])
        if comp == 1:
            raw = _bmp_rle8(data[data_off:], w, h)
            if top_down:
                raw = raw[::-1]
        elif comp == 2:
            raw = _bmp_rle4(data[data_off:], w, h)
            if top_down:
                raw = raw[::-1]
        elif bpp == 8:
            stride = (w + 3) & ~3
            raw = np.frombuffer(data[data_off : data_off + h * stride],
                                dtype=np.uint8).reshape(h, stride)[:, :w]
            if not top_down:
                raw = raw[::-1]
        else:
            # 1/4-bit: MSB-first packed samples, rows padded to 4 bytes
            stride = ((w * bpp + 7) // 8 + 3) & ~3
            rows = np.frombuffer(data[data_off : data_off + h * stride],
                                 dtype=np.uint8)
            if rows.size < h * stride:
                raise ValueError("truncated BMP raster")
            bits = np.unpackbits(rows.reshape(h, stride), axis=1)
            raw = np.zeros((h, w), np.uint8)
            for b in range(bpp):
                raw = (raw << 1) | bits[:, b::bpp][:, :w]
            if not top_down:
                raw = raw[::-1]
        if int(raw.max(initial=0)) >= len(pal_gray):
            raise ValueError("BMP palette index out of range")
        return pal_gray[raw].copy()
    nb = bpp // 8
    stride = (w * nb + 3) & ~3
    raw = np.frombuffer(data[data_off : data_off + h * stride],
                        dtype=np.uint8)
    if raw.size < h * stride:
        raise ValueError("truncated BMP raster")
    if comp == 3 or bpp == 16:
        if comp == 3:
            # masks sit right after BITMAPINFOHEADER / at the same fixed
            # offset inside the V4/V5 headers (bV4RedMask = header + 40)
            if len(data) < 66:
                raise ValueError("truncated BMP bitfield masks")
            rm, gm, bm = struct.unpack_from("<III", data, 54)
            if rm & gm or gm & bm or rm & bm:
                raise ValueError("BMP bitfield masks overlap")
        else:
            rm, gm, bm = 0x7C00, 0x03E0, 0x001F          # 16-bit default 555
        dt = np.uint16 if bpp == 16 else np.uint32
        px = raw.reshape(h, stride)[:, : w * nb].copy().view(dt) \
            .reshape(h, w).astype(np.uint32)
        if not top_down:
            px = px[::-1]
        return luma(_mask_channel(px, rm), _mask_channel(px, gm),
                    _mask_channel(px, bm))
    px = raw.reshape(h, stride)[:, : w * nb].reshape(h, w, nb)
    if not top_down:
        px = px[::-1]
    return luma(px[:, :, 2], px[:, :, 1], px[:, :, 0])  # BGR order


# ------------------------------------------------------------------ luma


def luma(r, g=None, b=None) -> np.ndarray:
    """BT.601 luma in the one integer form every codec shares,
    (77 R + 150 G + 29 B + 128) >> 8 as uint8, so equal RGB decodes to equal
    gray in every format. Takes three integer channel planes, or one array
    whose last axis holds R, G, B (any further channel is ignored)."""
    if g is None:
        r, g, b = r[..., 0], r[..., 1], r[..., 2]
    r, g, b = (np.asarray(c, dtype=np.int32) for c in (r, g, b))
    return ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)


# ------------------------------------------------- EXIF / TIFF orientation


def apply_exif_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """Stored pixels -> upright pixels per Orientation tag 274 (TIFF6 /
    EXIF 2.3). The reference gets this through Leptonica's read path on
    ingest (SetImage baseapi.cpp:881): cameras and scanners store the
    sensor raster and record how to display it, so the upright transform
    must run BEFORE any layout analysis. Values 1-8: 1 normal, 2 mirror-H,
    3 rotate 180, 4 mirror-V, 5 transpose, 6 rotate 90 CW to display,
    7 transverse, 8 rotate 90 CCW to display. Unknown values pass through
    unchanged (the reference is likewise lenient)."""
    if orientation == 2:
        return img[:, ::-1]
    if orientation == 3:
        return img[::-1, ::-1]
    if orientation == 4:
        return img[::-1, :]
    if orientation == 5:
        return img.T
    if orientation == 6:
        return np.rot90(img, -1)
    if orientation == 7:
        return img[::-1, ::-1].T
    if orientation == 8:
        return np.rot90(img, 1)
    return img
