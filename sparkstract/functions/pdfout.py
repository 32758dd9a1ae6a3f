"""Searchable-PDF OUTPUT: the S8 renderer (TessPDFRenderer, reference
/root/reference/src/api/pdfrenderer.cpp and include/tesseract/renderer.h:244).

The reference writes, per page, the page image as an XObject backdrop
(pdfrenderer.cpp:355 `q w 0 0 h 0 0 cm /x0 Do Q`) and an INVISIBLE text
layer — `BT 3 Tr` per block (pdfrenderer.cpp:375), one positioned, Tz-
stretched show per word so each word's text exactly covers its image box
(pdfrenderer.cpp:487-494 `h_stretch Tz [<utf16>] TJ`). This module is that
contract over the extraction kernel's word table:

  * `page_text_ops`  — the invisible text layer for one page's words
  * `assemble_pdf`   — a classic-xref, single-font PDF from per-page parts
    whose image streams are ALREADY Flate-compressed (the distributed
    renderer compresses pages map-side so the per-doc shuffle carries
    compressed bytes, then this assembly is pure concatenation + xref)

Byte-deterministic on purpose: the driver oracle pins the distributed
assembly to a single-process run of the same code, and resumed jobs must
re-emit identical files. Distinct from the fixture-side writer
(fixtures/encoders/pdf.py encode_simple_pdf), which exists to feed the PARSER
genuine bytes; this one is a product sink.
"""

from __future__ import annotations

import re
import zlib

# /DW 600 (1/1000 em) — the descendant-font default advance both this
# writer's stretch math and the round-trip parser's word geometry use.
CHAR_W = 0.6

_HEX_SHOW = re.compile(r"<([0-9a-f]+)> Tj")


def _hex16(s: str) -> str:
    """Text -> Identity-H hex string, cid = BMP codepoint (the reference
    shows text as UTF-16BE hex, pdfrenderer.cpp:487 `[<utf16>] TJ`; our
    cid==codepoint convention keeps /ToUnicode an identity map). Non-BMP
    codepoints fold to U+FFFD — 2-byte CIDs cannot carry surrogates."""
    return "".join(f"{cp if cp <= 0xFFFF else 0xFFFD:04x}"
                   for cp in map(ord, s))


def page_text_ops(words: list[tuple], page_h: int) -> str:
    """The invisible text layer for one page: `words` is
    [(text, left, top, right, bottom), ...] in reading order (top-down
    pixel coords, inclusive edges). One text object per page with 3 Tr
    (invisible ink, pdfrenderer.cpp:375); each word gets an absolute Tm
    placement at its baseline, a font size from its box height, and the
    reference's horizontal stretch so the shown text spans exactly the
    word's box (pdfrenderer.cpp:487 `kCharWidth * 100 * word_length /
    (fontsize * pdf_word_len)`). Text is shown as Identity-H hex strings
    (UTF-16BE/BMP, like the reference's glyphless Type0 font) so any
    script round-trips; assemble_pdf builds the matching font object."""
    if not words:
        return ""
    ops = ["BT", "3 Tr"]
    last_size = None
    for text, l, t, r, b in words:
        if not text:
            continue
        size = max(1, b - t + 1)
        # parser places top = H - y - 0.75*size → y = H - top - 0.75*size
        y = page_h - t - 0.75 * size
        if size != last_size:
            ops.append(f"/F1 {size} Tf")
            last_size = size
        stretch = 100.0 * (r - l + 1) / (CHAR_W * size * len(text))
        ops.append(f"{stretch:.4f} Tz")
        ops.append(f"1 0 0 1 {l} {y:.2f} Tm <{_hex16(text)}> Tj")
    ops.append("ET")
    return "\n".join(ops)


def compress_page_image(gray) -> bytes:
    """Map-side page-image compression: the /FlateDecode stream body of the
    page's /DeviceGray 8-bit XObject. Done in the extraction kernel so the
    per-doc assembly shuffle moves compressed bytes only."""
    return zlib.compress(gray.tobytes())


def assemble_pdf(pages: list[dict]) -> bytes:
    """One searchable PDF from per-page parts, classic xref (the object
    layout of the reference's TessPDFRenderer: catalog, pages tree, one
    font, then per page image XObject + content + page objects;
    pdfrenderer.cpp:507 BeginDocumentHandler / :831 AddImageHandler).

    Each page dict: w, h (pixel = PDF-unit dims), img (Flate bytes of the
    gray backdrop, or None for born-digital text-only pages), ops (the
    invisible text layer string). Content streams are Flate-compressed
    here; image streams arrive pre-compressed."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    def add_stream(d: str, raw: bytes) -> int:
        return add(f"<< {d} /Length {len(raw)} >>\nstream\n".encode()
                   + raw + b"\nendstream")

    add(b"<< /Type /Catalog /Pages 2 0 R >>")      # obj 1
    add(b"PAGES-PLACEHOLDER")                      # obj 2, patched below

    # the document's single Type0 font (the reference ships ONE glyphless
    # font for the whole file, pdfrenderer.cpp:507): cid = BMP codepoint,
    # /DW 600, /ToUnicode covering exactly the codepoints the text layers
    # show (ASCII via one bfrange + a bfchar per non-ASCII char used)
    used: set[int] = set()
    for pg in pages:
        for m in _HEX_SHOW.finditer(pg["ops"] or ""):
            hx = m.group(1)
            used.update(int(hx[i:i + 4], 16) for i in range(0, len(hx), 4))
    extra = sorted(cp for cp in used if not (0x20 <= cp <= 0x7E))
    cmap = bytearray(
        b"/CIDInit /ProcSet findresource begin\n"
        b"12 dict begin begincmap\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfrange <0020> <007e> <0020> endbfrange\n")
    if extra:
        ents = "\n".join(
            f"<{cp:04x}> <{chr(cp).encode('utf-16-be').hex()}>"
            for cp in extra)
        cmap += f"{len(extra)} beginbfchar\n{ents}\nendbfchar\n".encode()
    cmap += b"endcmap end end\n"
    tounicode = add_stream("", bytes(cmap))
    desc = add(b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Ext"
               b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
               b" /Supplement 0 >> /DW 600 >>")
    font = add(f"<< /Type /Font /Subtype /Type0 /BaseFont /Ext "
               f"/Encoding /Identity-H /DescendantFonts [{desc} 0 R] "
               f"/ToUnicode {tounicode} 0 R >>".encode())
    kids: list[int] = []
    for pg in pages:
        w, h = pg["w"], pg["h"]
        content = []
        xo_entry = ""
        if pg["img"] is not None:
            num = add_stream(
                f"/Type /XObject /Subtype /Image /Width {w} /Height {h} "
                f"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                f"/Filter /FlateDecode", pg["img"])
            # backdrop under the text layer (pdfrenderer.cpp:355)
            content.append(f"q {w} 0 0 {h} 0 0 cm /Im0 Do Q")
            xo_entry = f" /XObject << /Im0 {num} 0 R >>"
        if pg["ops"]:
            content.append(pg["ops"])
        cs = zlib.compress("\n".join(content).encode("latin-1"))
        cnum = add_stream("/Filter /FlateDecode", cs)
        kids.append(add(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}] "
            f"/Resources << /Font << /F1 {font} 0 R >>{xo_entry} >> "
            f"/Contents {cnum} 0 R >>".encode()))
    objs[1] = (f"<< /Type /Pages /Count {len(kids)} "
               f"/Kids [{' '.join(f'{k} 0 R' for k in kids)}] >>").encode()

    out = bytearray(b"%PDF-1.5\n%\xde\xad\xbe\xeb\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)
