"""Minimal pure-Python TIFF codec: 8-bit grayscale, none/LZW/PackBits and
the CCITT fax family — MH (compression 2), G3 (3, 1D and 2D rows), G4 (4),
new-style JPEG strips (7, TTN2: per-strip JPEG via functions/jpeg.py with
shared tag-347 JPEGTables merged in; old-style 6 via JPEGInterchangeFormat), Deflate
(8, + the legacy 32946 alias; bomb-capped at the raster size)
bilevel via functions/ccitt.py — multipage (IFD chain).

The reference ingests any Leptonica-readable raster and TIFF is the OCR
lingua franca (SetImage /root/reference/src/api/baseapi.cpp:881,906;
multipage driver ProcessPagesMultipageTiff baseapi.cpp:1657). This container
has no PIL/leptonica, so — like functions/png.py — the codec is from-scratch
and the point is that the media column carries genuine encoded TIFF bytes
through the same Arrow/mapInPandas plumbing.

Writer: little-endian ("II"), one strip per page (or the tiled layout
via `tile=`), compression 1 (none) or 5 (TIFF-LZW, MSB-first bit packing,
early code-width change). Reader: either byte order, multi-strip AND
tiled (TIFF6 §15, tags 322-325 — the archival-scan layout; per-tile
predictor/fax reset, edge-tile crop), predictor 2 (horizontal
differencing) supported for robustness against externally produced
files.
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import lzw_decode, lzw_encode
from .raster import apply_exif_orientation, luma

_TYPE_SIZE = {1: 1, 3: 2, 4: 4, 7: 1}  # BYTE, SHORT, LONG, UNDEFINED


def _inflate(data: bytes, expect: int) -> bytes:
    """Deflate strip/tile (TIFF compression 8, Adobe; 32946 legacy alias):
    zlib-wrapped, capped at the declared raster size — the same
    decompression-bomb guard as LZW's max_out."""
    import zlib

    dec = zlib.decompressobj()
    out = dec.decompress(data, expect)
    if dec.unconsumed_tail:
        raise ValueError("Deflate TIFF strip exceeds expected raster size")
    return out


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


def _packbits_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c == 128:  # noop
            continue
        if c < 128:
            out += data[i:i + c + 1]
            i += c + 1
        else:
            out += bytes([data[i]]) * (257 - c)
            i += 1
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


def _read_values(data: bytes, fmt: str, typ: int, count: int,
                 raw: bytes) -> list[int]:
    size = _TYPE_SIZE[typ] * count
    if size > 4:
        (off,) = struct.unpack(fmt + "I", raw)
        raw = data[off : off + size]
    else:
        raw = raw[:size]
    ch = {1: "B", 3: "H", 4: "I", 7: "B"}[typ]
    return list(struct.unpack(f"{fmt}{count}{ch}", raw))


def _strip_layout(tags: dict, h: int) -> tuple[list, list, int]:
    """Validated (StripOffsets, StripByteCounts, RowsPerStrip) — strip-
    layout sanity up front (ADVICE r3): a multi-strip file missing
    RowsPerStrip defaults rps=h, which would hand strip i>0 a non-positive
    row count and surface as a misleading codec error; zip() would
    likewise silently truncate when the two arrays disagree. Both are
    container defects — name them."""
    offs, cnts = tags[273], tags[279]
    rps = tags.get(278, [h])[0]
    if len(offs) != len(cnts):
        raise ValueError(
            f"TIFF strip layout: {len(offs)} StripOffsets vs "
            f"{len(cnts)} StripByteCounts")
    if rps <= 0 or len(offs) * rps < h:
        raise ValueError(
            f"TIFF strip layout: {len(offs)} strips x RowsPerStrip "
            f"{rps} do not cover height {h}")
    return offs, cnts, rps


def _fax_decoder(comp: int, tags: dict):
    """CCITT block decoder for compression 2/3/4 honoring T4Options."""
    from .ccitt import g3_decode, g4_decode, mh_decode

    if comp == 2:              # T.4 MH rows, byte-aligned, no EOLs
        return mh_decode
    if comp == 3:              # classic G3; T4Options bit 0 = 2D rows
        two_d = bool(tags.get(292, [0])[0] & 1)

        def dec(d, ww, hh, _t=two_d):
            return g3_decode(d, ww, hh, two_d=_t)

        return dec
    return g4_decode           # T.6 (G4)


def _assemble_tiles(data: bytes, tags: dict, w: int, h: int, nsamp: int,
                    bilevel: bool, comp: int) -> np.ndarray:
    """Tiled layout (TIFF6 §15, tags 322-325): every tile is a FULL
    TileWidth x TileLength block (edge tiles padded), each an independent
    compression unit — so the horizontal-differencing predictor and the
    fax codecs both reset per tile. Returns the cropped page raster:
    bilevel -> HxW 0/1 bits, else HxW*nsamp uint8 (predictor undone)."""
    if 322 not in tags or 323 not in tags \
            or 324 not in tags or 325 not in tags:
        raise ValueError("tiled TIFF missing TileWidth/Length/Offsets/"
                         "ByteCounts")
    tw, tl = tags[322][0], tags[323][0]
    offs, cnts = tags[324], tags[325]
    if tw <= 0 or tl <= 0:
        raise ValueError("tiled TIFF: non-positive tile dimensions")
    across, down = -(-w // tw), -(-h // tl)
    if len(offs) != len(cnts) or len(offs) != across * down:
        raise ValueError(
            f"TIFF tile layout: {across}x{down} grid needs "
            f"{across * down} tiles, file declares "
            f"{len(offs)}/{len(cnts)}")
    if bilevel:
        canvas = np.zeros((down * tl, across * tw), dtype=np.uint8)
    else:
        canvas = np.zeros((down * tl, across * tw, nsamp), dtype=np.uint8)
    if comp == 7:
        raise ValueError("tiled JPEG-in-TIFF: out of scope "
                         "(strip layout only)")
    if comp in (2, 3, 4):
        if not bilevel:
            raise ValueError("CCITT-compressed TIFF must be 1-bit bilevel")
        dec = _fax_decoder(comp, tags)
    predictor = tags.get(317, [1])[0] == 2
    stride = (tw + 7) // 8
    for i, (o, c) in enumerate(zip(offs, cnts)):
        ty, tx = divmod(i, across)
        body = data[o:o + c]
        if comp in (2, 3, 4):
            tile = dec(body, tw, tl)
        else:
            expect = tl * stride if bilevel else tl * tw * nsamp
            undo = {1: lambda b: b,
                    5: lambda b, _e=expect: lzw_decode(b, early=1,
                                                       max_out=_e),
                    8: lambda b, _e=expect: _inflate(b, _e),
                    32773: _packbits_decode}[comp]
            body = undo(body)
            if len(body) < expect:
                raise ValueError("truncated TIFF tile")
            if bilevel:
                tile = np.unpackbits(
                    np.frombuffer(body[:expect], dtype=np.uint8)
                    .reshape(tl, stride), axis=1)[:, :tw]
            else:
                tile = np.frombuffer(body[:expect], dtype=np.uint8) \
                    .reshape(tl, tw, nsamp)
                if predictor:
                    tile = np.cumsum(tile.astype(np.int64), axis=1) \
                        .astype(np.uint8)
        canvas[ty * tl:(ty + 1) * tl, tx * tw:(tx + 1) * tw] = tile
    canvas = canvas[:h, :w]
    return canvas if bilevel else canvas.reshape(h, w * nsamp)


def decode_gray_tiff(data: bytes) -> list[np.ndarray]:
    """(multipage) TIFF bytes -> list of uint8 HxW grayscale arrays
    (RGB/RGBA and ColorMap-palette pages collapse to BT.601 luma,
    alpha dropped)."""
    if data[:4] == b"II*\x00":
        fmt = "<"
    elif data[:4] == b"MM\x00*":
        fmt = ">"
    else:
        raise ValueError("not a TIFF")
    (ifd_off,) = struct.unpack_from(fmt + "I", data, 4)
    pages: list[np.ndarray] = []
    seen: set[int] = set()
    while ifd_off:
        # a malformed next-IFD pointer can form a CYCLE — unguarded, that is
        # an infinite loop inside an executor task (a hang, worse than a
        # crash at 10^12-doc scale); cap the chain and refuse revisits
        if ifd_off in seen or len(pages) >= 10_000:
            raise ValueError("cyclic or oversized TIFF IFD chain")
        seen.add(ifd_off)
        (n,) = struct.unpack_from(fmt + "H", data, ifd_off)
        tags: dict[int, list[int]] = {}
        for i in range(n):
            pos = ifd_off + 2 + 12 * i
            tag, typ, count = struct.unpack_from(fmt + "HHI", data, pos)
            if typ in _TYPE_SIZE:
                tags[tag] = _read_values(data, fmt, typ, count,
                                         data[pos + 8 : pos + 12])
        (ifd_off,) = struct.unpack_from(fmt + "I", data,
                                        ifd_off + 2 + 12 * n)
        w, h = tags[256][0], tags[257][0]
        nsamp = tags.get(277, [1])[0]
        bps = tags.get(258, [8])
        bilevel = nsamp == 1 and bps == [1]
        deep = nsamp == 1 and bps == [16]   # 16-bit gray: high byte taken
        # RGB (3) / RGBA (4, alpha dropped) collapse to BT.601 luma the way
        # Leptonica's pixConvertTo8 does before analysis; chunky planar
        # config only (PlanarConfiguration=2 stores whole planes — rare).
        # 1-bit bilevel (the scan classic) unpacks MSB-first rows;
        # CCITT G4 bilevel decodes via functions/ccitt.py below.
        if tags.get(284, [1])[0] != 1 or nsamp not in (1, 3, 4) \
                or not (bilevel or deep or all(b == 8 for b in bps)):
            raise ValueError(
                "only 1-bit bilevel, 8-bit chunky gray/RGB/RGBA, or "
                "16-bit gray TIFF supported")
        comp = tags.get(259, [1])[0]
        if comp == 6:
            # old-style JPEG (deprecated by TTN2). The COMMON real-world
            # layout — tags 513/514 pointing at one complete interchange
            # JPEG stream — decodes directly; the per-table fragment
            # layout (JPEGQTables/DC/ACTables, no interchange stream)
            # stays a named error.
            if 513 not in tags or 514 not in tags:
                raise ValueError("TIFF compression 6 without "
                                 "JPEGInterchangeFormat: out of scope "
                                 "(per-table fragment layout)")
            joff, jlen = tags[513][0], tags[514][0]
            if joff + jlen > len(data):
                raise ValueError("TIFF JPEGInterchangeFormat out of range")
            from .jpeg import decode_gray_jpeg

            jimg = decode_gray_jpeg(data[joff:joff + jlen])[:h, :w]
            if jimg.shape != (h, w):
                raise ValueError("TIFF old-style JPEG size mismatch")
            pages.append(apply_exif_orientation(
                jimg, tags.get(274, [1])[0]).copy())
            continue
        if comp == 32946:
            comp = 8        # old Deflate code (libtiff pre-registration)
        if comp not in (1, 2, 3, 4, 5, 7, 8, 32773):
            raise ValueError(f"TIFF compression {comp}: out of scope "
                             "(none/MH/G3/G4/LZW/JPEG/Deflate/PackBits "
                             "supported)")
        bits = None       # bilevel raster, set by the CCITT and tile paths
        if 322 in tags or 323 in tags:   # tiled layout (TIFF6 §15)
            out_arr = _assemble_tiles(data, tags, w, h, nsamp, bilevel,
                                      comp)
            if bilevel:
                bits, raw = out_arr, b""
            else:
                raw = out_arr.tobytes()
                tags = dict(tags)
                tags[317] = [1]   # predictor already undone per tile
        elif comp == 7:
            # new-style JPEG-in-TIFF (TIFF Technical Note 2): every strip
            # is an independent JPEG stream decoded by functions/jpeg.py;
            # tag 347 (JPEGTables) holds a tables-only abbreviated stream
            # whose DQT/DHT are shared by all strips — merge = tables
            # minus EOI, strip minus SOI (TTN2 "abbreviated format")
            if bilevel:
                raise ValueError("JPEG-compressed TIFF must be 8-bit")
            from .jpeg import decode_gray_jpeg as _djpeg

            offs, cnts, rps = _strip_layout(tags, h)
            tbl = bytes(tags[347]) if 347 in tags else b""
            if tbl and (tbl[:2] != b"\xff\xd8" or tbl[-2:] != b"\xff\xd9"):
                raise ValueError("TIFF JPEGTables is not a valid "
                                 "tables-only JPEG stream")
            parts = []
            for o, c in zip(offs, cnts):
                strip = data[o:o + c]
                if strip[:2] != b"\xff\xd8":
                    raise ValueError("TIFF JPEG strip missing SOI")
                if tbl:
                    strip = tbl[:-2] + strip[2:]
                parts.append(_djpeg(strip))
            img = np.vstack(parts) if len(parts) > 1 else parts[0]
            if img.shape[0] < h or img.shape[1] < w:
                raise ValueError("TIFF JPEG strips do not cover the page")
            img = img[:h, :w]
            # photometric 6 (YCbCr) and 1 (gray) are already luma; 0 inverts
            if tags.get(262, [1])[0] == 0:
                img = (255 - img.astype(np.int64)).astype(np.uint8)
            img = apply_exif_orientation(img, tags.get(274, [1])[0])
            pages.append(img.copy())
            continue
        elif comp in (2, 3, 4):
            # CCITT fax family (functions/ccitt.py): bilevel only; each
            # strip is an independent coding block, so strips decode
            # against their own declared row count
            offs, cnts, rps = _strip_layout(tags, h)
            if not bilevel:
                raise ValueError(
                    "CCITT-compressed TIFF must be 1-bit bilevel")
            dec = _fax_decoder(comp, tags)
            parts = [dec(data[o : o + c], w, min(rps, h - i * rps))
                     for i, (o, c) in enumerate(zip(offs, cnts))]
            bits = np.vstack(parts) if len(parts) > 1 else parts[0]
            if bits.shape[0] != h:
                raise ValueError("CCITT TIFF strip rows do not cover height")
            raw = b""
        else:
            offs, cnts, _rps = _strip_layout(tags, h)
            expect = (h * ((w + 7) // 8) if bilevel
                      else h * w * nsamp * (2 if deep else 1))
            undo = {1: lambda b: b,
                    5: lambda b: lzw_decode(b, early=1, max_out=expect),
                    8: lambda b: _inflate(b, expect),
                    32773: _packbits_decode}[comp]
            raw = b"".join(undo(data[o : o + c]) for o, c in zip(offs, cnts))
            if deep:
                # collapse to the high byte honoring the byte order
                u16 = np.frombuffer(raw[: h * w * 2],
                                    dtype=np.dtype(fmt + "u2"))
                if u16.size < h * w:
                    raise ValueError("truncated 16-bit TIFF raster")
                raw = (u16 >> 8).astype(np.uint8).tobytes()
        if bilevel:
            if bits is None:
                stride = (w + 7) // 8
                packed = np.frombuffer(raw[: h * stride], dtype=np.uint8)
                if packed.size < h * stride:
                    raise ValueError("truncated bilevel TIFF raster")
                bits = np.unpackbits(packed.reshape(h, stride),
                                     axis=1)[:, :w]
            # photometric 0 (WhiteIsZero, the bilevel default: 1 = black)
            # vs 1 (BlackIsZero: 1 = white); the 8-bit invert below must
            # not run again, so map directly here
            if tags.get(262, [0])[0] == 0:
                img = np.where(bits == 1, 0, 255).astype(np.uint8)
            else:
                img = np.where(bits == 1, 255, 0).astype(np.uint8)
            img = apply_exif_orientation(img, tags.get(274, [1])[0])
            pages.append(img.copy())
            continue
        img = np.frombuffer(raw[: h * w * nsamp], dtype=np.uint8)
        img = img.reshape(h, w * nsamp)
        if tags.get(317, [1])[0] == 2:  # horizontal-differencing predictor
            # per-channel differencing (TIFF6 §14): cumsum along each sample
            img = (np.cumsum(img.reshape(h, w, nsamp).astype(np.int64),
                             axis=1).astype(np.uint8).reshape(h, w * nsamp))
        if nsamp > 1:
            img = luma(img.reshape(h, w, nsamp))
        else:
            img = img.reshape(h, w)
        photometric = tags.get(262, [1])[0]
        if photometric == 0:  # WhiteIsZero → invert to BlackIsZero
            img = (255 - img.astype(np.int64)).astype(np.uint8)
        elif photometric == 3:  # palette: ColorMap (tag 320) → BT.601 luma
            if 320 not in tags:
                raise ValueError("palette TIFF missing ColorMap")
            cm = np.asarray(tags[320], dtype=np.int64)
            n = cm.shape[0] // 3  # R then G then B planes, 16-bit values
            r, g, b = cm[:n] >> 8, cm[n:2 * n] >> 8, cm[2 * n:3 * n] >> 8
            gray = luma(r, g, b)
            if int(img.max(initial=0)) >= n:
                raise ValueError("palette TIFF index out of range")
            img = gray[img]
        # Orientation tag 274: un-rotate to upright BEFORE analysis, the
        # way Leptonica's read path does on ingest (SetImage baseapi.cpp:881)
        img = apply_exif_orientation(img, tags.get(274, [1])[0])
        pages.append(img.copy())
    if not pages:
        raise ValueError("TIFF has no pages")
    return pages
