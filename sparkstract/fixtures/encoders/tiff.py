"""TIFF mirror writer (fixture side) for functions/tiff.py.

Writer: little-endian ("II"), one strip per page (or the tiled layout
via `tile=`), compression 1 (none) or 5 (TIFF-LZW, MSB-first bit packing,
early code-width change).
"""

from __future__ import annotations

import struct

import numpy as np

from ...functions.bits import lzw_encode


def _packbits_encode(data: bytes) -> bytes:
    """Apple PackBits (TIFF6 §9, compression 32773): runs of >=3 equal
    bytes become (257-n, byte); literals batch up to 128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out += bytes([257 - (j - i), data[i]])
            i = j
            continue
        # literal run: until the next >=3 repeat (or 128 bytes)
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def encode_gray_tiff(pages: list[np.ndarray] | np.ndarray,
                     compression: str = "none",
                     orientation: int | None = None,
                     tile: tuple[int, int] | None = None,
                     jpeg_tables: bool = False,
                     strip_rows: int | None = None) -> bytes:
    """uint8 HxW (gray) or HxWx3 (RGB) array(s) -> (multipage) TIFF bytes.

    One IFD per page chained via the next-IFD pointer — the structure
    ProcessPagesMultipageTiff walks (baseapi.cpp:1657). `orientation`
    writes tag 274 (pixels are stored AS GIVEN; the tag tells readers how
    to display them — the fixture side of the EXIF-rotation ingest path).
    `tile=(tw, tl)` writes the TILED layout (TIFF6 §15, tags 322-325;
    every tile a full padded block, each an independent compression unit)
    instead of the single strip — gray pages, none/lzw/packbits/g4."""
    if isinstance(pages, np.ndarray):
        pages = [pages]
    assert pages, "at least one page"
    comp_id = {"none": 1, "mh": 2, "g3": 3, "g4": 4, "lzw": 5,
               "jpeg": 7, "deflate": 8, "packbits": 32773}[compression]
    out = bytearray(b"II*\x00\x00\x00\x00\x00")  # IFD0 offset patched below
    ifd_ptr_pos = 4
    for img in pages:
        if img.dtype != np.uint8 or img.ndim not in (2, 3) \
                or (img.ndim == 3 and img.shape[2] != 3):
            raise ValueError("encode_gray_tiff expects HxW or HxWx3 uint8")
        h, w = img.shape[:2]
        nsamp = 1 if img.ndim == 2 else 3
        tile_offs: list[int] = []
        tile_cnts: list[int] = []
        if tile is not None:
            if img.ndim != 2 or comp_id in (2, 3):
                raise ValueError("tiled writer: gray pages, "
                                 "none/lzw/packbits/g4 only")
            tw, tl = tile
            across, down = -(-w // tw), -(-h // tl)
            pad = np.zeros((down * tl, across * tw), dtype=np.uint8)
            pad[:h, :w] = img
            if comp_id == 4:
                from .ccitt import g4_encode
            for ty in range(down):
                for tx in range(across):
                    t = pad[ty * tl:(ty + 1) * tl, tx * tw:(tx + 1) * tw]
                    if comp_id == 4:
                        blob = g4_encode((t < 128).astype(np.uint8))
                    else:
                        import zlib as _z

                        blob = {1: lambda b: b,
                                5: lambda b: lzw_encode(b, early=1),
                                8: _z.compress,
                                32773: _packbits_encode}[comp_id](
                                    t.tobytes())
                    tile_offs.append(len(out))
                    tile_cnts.append(len(blob))
                    out += blob
            strip = b""
        elif comp_id in (2, 3, 4):
            # the fax family is bilevel-only: threshold gray at 128 (ink ->
            # black), photometric 0 (WhiteIsZero, the fax default: 1=black)
            if img.ndim != 2:
                raise ValueError(
                    "CCITT TIFF is bilevel: HxW gray input only")
            from .ccitt import g3_encode, g4_encode, mh_encode

            enc = {2: mh_encode, 3: g3_encode, 4: g4_encode}[comp_id]
            strip = enc((img < 128).astype(np.uint8))
        elif comp_id == 7:
            # new-style JPEG-in-TIFF (TTN2): strips are independent JPEG
            # streams; jpeg_tables=True moves the DQT/DHT segments into a
            # shared tag-347 tables-only stream and leaves abbreviated
            # strips (the layout libtiff writes by default)
            if img.ndim != 2:
                raise ValueError("JPEG TIFF writer: gray pages only")
            from .jpeg import encode_gray_jpeg

            rps = strip_rows or h
            jstrips = [encode_gray_jpeg(img[y0:y0 + rps], quality=95)
                       for y0 in range(0, h, rps)]
            tables = b""
            if jpeg_tables:
                tables_segs = bytearray()
                stripped = []
                for js in jstrips:
                    body = bytearray(js[:2])   # keep SOI
                    pos = 2
                    while pos + 4 <= len(js):
                        marker, ln = js[pos:pos + 2], int.from_bytes(
                            js[pos + 2:pos + 4], "big")
                        seg = js[pos:pos + 2 + ln]
                        if marker in (b"\xff\xdb", b"\xff\xc4"):
                            if not stripped:   # tables identical per strip
                                tables_segs += seg
                        else:
                            body += seg
                        pos += 2 + ln
                        if marker == b"\xff\xda":
                            body += js[pos:]   # entropy data to EOI
                            break
                    stripped.append(bytes(body))
                jstrips = stripped
                tables = b"\xff\xd8" + bytes(tables_segs) + b"\xff\xd9"
            strip = b""
        else:
            import zlib as _z

            raw = img.tobytes()
            strip = {1: lambda b: b,
                     5: lambda b: lzw_encode(b, early=1),
                     8: _z.compress,
                     32773: _packbits_encode}[comp_id](raw)
        if comp_id == 7:
            jstrip_offs, jstrip_cnts = [], []
            for js in jstrips:
                jstrip_offs.append(len(out))
                jstrip_cnts.append(len(js))
                out += js
            strip_off = jstrip_offs[0]
            tables_off = len(out)
            out += tables
        else:
            strip_off = len(out)
            out += strip
        if len(out) % 2:
            out += b"\x00"  # IFDs must be word-aligned
        if tile is not None and len(tile_offs) > 1:
            toffs_at = len(out)
            for v in tile_offs:
                out += struct.pack("<I", v)
            tcnts_at = len(out)
            for v in tile_cnts:
                out += struct.pack("<I", v)
        if comp_id == 7 and len(jstrips) > 1:
            joffs_at = len(out)
            for v in jstrip_offs:
                out += struct.pack("<I", v)
            jcnts_at = len(out)
            for v in jstrip_cnts:
                out += struct.pack("<I", v)
        if nsamp == 3:  # BitsPerSample count 3 > 4 bytes → stored out-of-line
            bits_off = len(out)
            out += struct.pack("<HHH", 8, 8, 8)
            if len(out) % 2:
                out += b"\x00"
        ifd_off = len(out)
        # patch the previous chain pointer to this IFD
        struct.pack_into("<I", out, ifd_ptr_pos, ifd_off)
        fax = comp_id in (2, 3, 4)
        bits_val = 1 if fax else (8 if nsamp == 1 else bits_off)
        photometric = 0 if fax else (1 if nsamp == 1 else 2)
        if tile is not None:
            nt = len(tile_offs)
            entries = [  # ascending tag order (required by the spec)
                (256, 4, 1, w), (257, 4, 1, h),
                (258, 3, 1, bits_val), (259, 3, 1, comp_id),
                (262, 3, 1, photometric),
                *([(274, 3, 1, orientation)] if orientation else []),
                (277, 3, 1, 1),
                (322, 4, 1, tile[0]), (323, 4, 1, tile[1]),
                (324, 4, nt, toffs_at if nt > 1 else tile_offs[0]),
                (325, 4, nt, tcnts_at if nt > 1 else tile_cnts[0]),
            ]
        elif comp_id == 7:
            ns = len(jstrips)
            entries = [  # ascending tag order (required by the spec)
                (256, 4, 1, w), (257, 4, 1, h),
                (258, 3, 1, 8), (259, 3, 1, 7),
                (262, 3, 1, 1),
                (273, 4, ns, joffs_at if ns > 1 else strip_off),
                *([(274, 3, 1, orientation)] if orientation else []),
                (277, 3, 1, 1),
                (278, 4, 1, strip_rows or h),
                (279, 4, ns, jcnts_at if ns > 1 else jstrip_cnts[0]),
                *([(347, 7, len(tables), tables_off)] if tables else []),
            ]
        else:
            entries = [  # ascending tag order (required by the spec)
                (256, 4, 1, w),            # ImageWidth
                (257, 4, 1, h),            # ImageLength
                (258, 3, nsamp, bits_val),  # BitsPerSample
                (259, 3, 1, comp_id),      # Compression
                (262, 3, 1, photometric),  # WhiteIsZero / BlackIsZero / RGB
                (273, 4, 1, strip_off),    # StripOffsets
                *([(274, 3, 1, orientation)] if orientation else []),
                (277, 3, 1, nsamp),        # SamplesPerPixel
                (278, 4, 1, h),            # RowsPerStrip (one strip)
                (279, 4, 1, len(strip)),   # StripByteCounts
            ]
        out += struct.pack("<H", len(entries))
        for tag, typ, count, value in entries:
            out += struct.pack("<HHI", tag, typ, count)
            # a >4-byte value field holds the OFFSET (packed as I)
            out += struct.pack("<I", value) if typ == 4 or count > 2 \
                else struct.pack("<HH", value, 0)
        ifd_ptr_pos = len(out)
        out += struct.pack("<I", 0)  # next-IFD pointer (patched or final 0)
    return bytes(out)
