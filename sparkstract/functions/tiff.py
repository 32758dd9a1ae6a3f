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

Reader: either byte order, multi-strip AND tiled (TIFF6 §15, tags
322-325 — the archival-scan layout; per-tile predictor/fax reset,
edge-tile crop), predictor 2 (horizontal differencing) supported for
robustness against externally produced files.

Mirror writer: sparkstract/fixtures/encoders/tiff.py.
"""

from __future__ import annotations

import struct

import numpy as np

from .bits import lzw_decode
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
