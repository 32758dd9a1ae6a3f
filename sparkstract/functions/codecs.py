"""Codec dispatch for the media-bytes column — the SetImage seam.

The reference accepts any Leptonica-readable raster and sniffs the format
from the byte stream (SetImage /root/reference/src/api/baseapi.cpp:881,906;
pixReadMem does the magic-number dispatch). Here: PNG incl. RGB/RGBA/
palette/16-bit/sub-byte-1-2-4-bit collapsed to BT.601 luma (functions/png.py),
TIFF incl. multipage + LZW + PackBits + CCITT G4 bilevel (functions/tiff.py, functions/ccitt.py), PNM P1-P6 and 1/4/8/24/32-bit + RLE8 BMP
(functions/raster.py). A multipage container yields several pages from ONE
media ref — the ProcessPagesMultipageTiff contract (baseapi.cpp:1657):
downstream block order runs page 1's blocks, then page 2's, in file order.
Baseline AND progressive JPEG (incl. color: luma-only reconstruction,
non-luma progressive scans skipped wholesale) are decoded by
functions/jpeg.py; WEBP by functions/webp.py — lossless VP8L (RFC 9649),
lossy VP8 key frames (RFC 6386, functions/vp8.py — see its table-pack
provenance note), and the extended VP8X container (raw alpha composited,
EXIF/XMP/ICCP skipped, animation a NAMED out-of-scope error).
"""

from __future__ import annotations

import numpy as np

from .jpeg import decode_gray_jpeg
from .png import decode_gray
from .raster import decode_gray_bmp, decode_gray_pnm
from .tiff import decode_gray_tiff

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_JP2_SIG = b"\x00\x00\x00\x0cjP  \r\n\x87\n"


def sniff(data: bytes) -> str:
    """Container format from the magic bytes: png, tiff, pnm, bmp, jpeg,
    gif, webp, jp2, pdf, ico or unknown. The one format table: decode_pages,
    the page kernel and the decode report all dispatch on its name."""
    if data[:8] == _PNG_SIG:
        return "png"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if data[:1] == b"P" and data[1:2] in b"123456":
        return "pnm"
    if data[:2] == b"BM":
        return "bmp"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:12] == _JP2_SIG or data[:4] == b"\xff\x4f\xff\x51":
        return "jp2"  # JP2 box container or raw codestream (SOC+SIZ)
    if data[:5] == b"%PDF-":
        return "pdf"
    if data[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00") \
            and len(data) >= 22:
        # ICO/CUR has no magic; the reserved+type prefix plus a sane
        # directory is the accepted sniff (checked LAST for that reason)
        return "ico"
    return "unknown"


def decode_pages(data: bytes) -> list[np.ndarray]:
    """Encoded image bytes -> list of uint8 HxW grayscale pages."""
    fmt = sniff(data)
    if fmt == "png":
        return [decode_gray(data)]
    if fmt == "tiff":
        return decode_gray_tiff(data)
    if fmt == "pnm":
        return [decode_gray_pnm(data)]
    if fmt == "bmp":
        return [decode_gray_bmp(data)]
    if fmt == "jpeg":
        return [decode_gray_jpeg(data)]
    if fmt == "gif":
        from .gif import decode_gray_gif

        return decode_gray_gif(data)
    if fmt == "webp":
        from .webp import decode_webp

        return [decode_webp(data)]
    if fmt == "jp2":
        from .jp2 import decode_jp2

        return [decode_jp2(data)]
    if fmt == "pdf":
        raise ValueError("PDF is not a raster: parsed at the pipeline seam "
                         "(functions/pdf.py born-digital path)")
    if fmt == "ico":
        from .raster import decode_gray_ico

        return [decode_gray_ico(data)]
    raise ValueError(
        "unsupported image format "
        "(PNG, TIFF, PNM, BMP, JPEG, GIF, WEBP, JP2, ICO supported)")


def decode_gray_any(data: bytes) -> np.ndarray:
    """First (usually only) page of any supported format."""
    return decode_pages(data)[0]
