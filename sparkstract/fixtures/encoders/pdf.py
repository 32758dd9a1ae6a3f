"""PDF mirror writer (fixture side) for the parser in functions/pdf.py.

`encode_simple_pdf` builds the born-digital, scanned, encrypted and
image-XObject PDFs the fixture families and tests carry; the parser is
the product surface.
"""

from __future__ import annotations

import zlib

import numpy as np


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def encode_simple_pdf(pages: list[list[tuple]],
                      page_size: tuple[int, int] = (612, 792),
                      compress: bool = True,
                      widths: dict[str, int] | None = None,
                      modern: bool = False,
                      cid_font: bool = False,
                      cid_widths: dict[str, int] | None = None,
                      rotate: int = 0,
                      encrypt: bool = False) -> bytes:
    """Build a minimal single-font PDF. Each page is a list of elements:

    - ``("text", x, y_baseline, size, "line of text")`` — PDF coords (y up)
    - ``("image", arr, x, y)`` — uint8 HxW grayscale placed at natural size
      (FlateDecode /DeviceGray)
    - ``("jpeg", arr, x, y, quality)`` — same, embedded as DCTDecode
    - ``("inline_image", arr, x, y)`` — same pixels written INLINE in the
      content stream (BI/ID/EI, §8.9.7 abbreviated keys + /Fl), the way
      small decorations/logos ship in real documents

    `rotate` writes the page /Rotate attribute (scanner apps set it
    instead of rotating pixels — content is stored in unrotated user
    space and the READER must normalize, functions/pdf.py walk/_read_page)

    `widths` (char → advance in 1/1000 em, default 600) emits a
    proportional font with /FirstChar+/Widths, the metric table the parser
    reads for exact word geometry.

    `modern` writes the 1.5+ file layout every current producer emits:
    non-stream objects packed into one /ObjStm and a cross-reference
    STREAM (Flate + PNG up-predictor) instead of a classic table.

    `cid_font` emits the composite-font layout of real-world embedded
    subsets: a /Type0 Identity-H font (cid = codepoint here), text shown
    as 2-byte hex strings, and a /ToUnicode CMap (an ASCII bfrange plus
    bfchar entries for any non-ASCII characters used).

    `encrypt` writes an encrypted document (standard security handler,
    EMPTY user password — the restrict-permissions shape, see
    functions/pdfcrypt.py): True or "rc4" -> R3 RC4 128-bit;
    "aes128" -> V4/R4 AESV2; "aes256" -> V5/R6 AESV3. Every stream body
    is encrypted with its per-object key (AES: deterministic IV prefix +
    CBC + PKCS#7) and the trailer carries /Encrypt + /ID. Classic layout
    only (no strings appear outside streams there, so stream encryption
    covers everything the spec requires).

    Fixture-side only (like encode_gray_tiff): the parser is the product
    surface, the writer exists so tests carry genuine PDF bytes."""
    if encrypt and (modern or cid_font):
        raise ValueError("encrypt supports the classic non-CID layout")
    enc_key = enc_vals = enc_id0 = None
    if encrypt:
        import hashlib

        from ...functions.pdfcrypt import object_key, rc4
        from .pdfcrypt import (aes_encrypt_data, make_encryption,
                               make_encryption_aes128,
                               make_encryption_aes256)

        mode = "rc4" if encrypt is True else encrypt
        enc_id0 = hashlib.md5(
            f"sparkstract-encrypted-fixture-{mode}".encode()).digest()
        maker = {"rc4": make_encryption, "aes128": make_encryption_aes128,
                 "aes256": make_encryption_aes256}[mode]
        enc_vals, enc_key = maker(enc_id0)
    w, h = page_size
    objs: list[bytes] = []  # body of object i+1

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    def add_stream(d: str, raw: bytes) -> int:
        if enc_key is not None:
            num = len(objs) + 1
            method = enc_vals["method"]
            if method == "rc4":
                raw = rc4(object_key(enc_key, num, 0), raw)
            else:
                import hashlib as _h
                ok = (enc_key if method == "aesv3"
                      else object_key(enc_key, num, 0, aes=True))
                iv = _h.md5(b"sparkstract-iv" + bytes([num])).digest()
                raw = aes_encrypt_data(ok, iv, raw)
        return add(f"<< {d} /Length {len(raw)} >>\nstream\n".encode()
                   + raw + b"\nendstream")

    add(b"<< /Type /Catalog /Pages 2 0 R >>")         # obj 1
    pages_obj = add(b"PLACEHOLDER")                     # obj 2, patched below
    if cid_font:
        used = {ch for els in pages for el in els
                if el[0] == "text" for ch in el[4]}
        extra = sorted(c for c in used if not (0x20 <= ord(c) <= 0x7E))
        cmap = bytearray(
            b"/CIDInit /ProcSet findresource begin\n"
            b"12 dict begin begincmap\n"
            b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
            b"1 beginbfrange <0020> <007e> <0020> endbfrange\n")
        if extra:
            ents = "\n".join(
                f"<{ord(c):04x}> <{c.encode('utf-16-be').hex()}>"
                for c in extra)
            cmap += (f"{len(extra)} beginbfchar\n{ents}\n"
                     "endbfchar\n").encode()
        cmap += b"endcmap end end\n"
        tounicode = add_stream("", bytes(cmap))
        warr = ("" if not cid_widths else " /W [" + " ".join(
            f"{ord(c)} [{wv}]" for c, wv in sorted(cid_widths.items())) + "]")
        desc = add((f"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fix"
                    f" /CIDSystemInfo << /Registry (Adobe) /Ordering"
                    f" (Identity) /Supplement 0 >> /DW 600{warr} >>"
                    ).encode())
        font = add(f"<< /Type /Font /Subtype /Type0 /BaseFont /Fix "
                   f"/Encoding /Identity-H /DescendantFonts [{desc} 0 R] "
                   f"/ToUnicode {tounicode} 0 R >>".encode())
    elif widths is None:
        font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>")
    else:
        wlist = " ".join(str(widths.get(chr(c), 600))
                         for c in range(32, 127))
        font = add(f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                   f"/FirstChar 32 /LastChar 126 "
                   f"/Widths [{wlist}] >>".encode())
    kids: list[int] = []
    for elements in pages:
        content: list[str] = []
        xobjects: dict[str, int] = {}
        for el in elements:
            if el[0] == "text":
                _, x, y, size, txt = el
                shown = (f"<{''.join(f'{ord(ch):04x}' for ch in txt)}>"
                         if cid_font else f"({_esc(txt)})")
                content.append(
                    f"BT /F1 {size} Tf {x} {y} Td {shown} Tj ET")
            elif el[0] == "inline_image":
                arr, x, y = el[1], el[2], el[3]
                ih, iw = arr.shape
                comp = zlib.compress(arr.tobytes())
                content.append(
                    f"q {iw} 0 0 {ih} {x} {y} cm "
                    f"BI /W {iw} /H {ih} /BPC 8 /CS /G /F /Fl ID "
                    + comp.decode("latin-1") + " EI Q")
            elif el[0] in ("image", "jpeg", "g4_image", "jbig2_image",
                           "jbig2_arith_image", "jbig2_text_image",
                           "jbig2_huff_image", "jbig2_halftone_image",
                           "jpx_image", "stencil_image"):
                arr, x, y = el[1], el[2], el[3]
                ih, iw = arr.shape
                extra = ""
                if el[0] == "jpeg":
                    from .jpeg import encode_gray_jpeg

                    raw = encode_gray_jpeg(arr, quality=el[4])
                    filt, bpc = "/DCTDecode", 8
                elif el[0] == "g4_image":
                    # bilevel scan wrapped as CCITT G4 (the archival shape):
                    # input is 8-bit gray, thresholded to ink at 128
                    from .ccitt import g4_encode

                    raw = g4_encode((arr < 128).astype(np.uint8))
                    filt, bpc = "/CCITTFaxDecode", 1
                    extra = (f" /DecodeParms << /K -1 /Columns {iw} "
                             f"/Rows {ih} >>")
                elif el[0] == "jbig2_image":
                    # the other archival shape (§7.4.7): striped MMR
                    # generic regions; the page-info segment rides a real
                    # /JBIG2Globals stream so readers must honor it
                    from .jbig2 import encode_jbig2

                    full = encode_jbig2((arr < 128).astype(np.uint8),
                                        stripes=2)
                    split = 11 + 19          # page-info header + body
                    gnum = add_stream("", full[:split])
                    raw = full[split:]
                    filt, bpc = "/JBIG2Decode", 1
                    extra = (" /DecodeParms "
                             f"<< /JBIG2Globals {gnum} 0 R >>")
                elif el[0] == "jbig2_arith_image":
                    # arithmetic (MQ) generic regions with TPGDON — the
                    # coder real scanner stacks default to (T.88 §6.2.5.7)
                    from .jbig2 import encode_jbig2

                    full = encode_jbig2((arr < 128).astype(np.uint8),
                                        stripes=2, coder="arith",
                                        tpgdon=True)
                    split = 11 + 19
                    gnum = add_stream("", full[:split])
                    raw = full[split:]
                    filt, bpc = "/JBIG2Decode", 1
                    extra = (" /DecodeParms "
                             f"<< /JBIG2Globals {gnum} 0 R >>")
                elif el[0] == "jbig2_text_image":
                    # the DOMINANT real-world scanned organization: the
                    # page's glyphs deduplicated into an arithmetic symbol
                    # dictionary (shared via /JBIG2Globals, like Acrobat)
                    # placed by an immediate text region (T.88 §6.4/§6.5)
                    from .jbig2 import encode_jbig2_text

                    raw, glob = encode_jbig2_text(
                        (arr < 128).astype(np.uint8))
                    gnum = add_stream("", glob)
                    filt, bpc = "/JBIG2Decode", 1
                    extra = (" /DecodeParms "
                             f"<< /JBIG2Globals {gnum} 0 R >>")
                elif el[0] == "jbig2_huff_image":
                    # the OTHER T.88 organization (Huffman, standard
                    # Annex-B tables): height-class collective bitmaps in
                    # the dictionary, run-coded symbol IDs in the region
                    from .jbig2 import encode_jbig2_text

                    raw, glob = encode_jbig2_text(
                        (arr < 128).astype(np.uint8), coder="huffman")
                    gnum = add_stream("", glob)
                    filt, bpc = "/JBIG2Decode", 1
                    extra = (" /DecodeParms "
                             f"<< /JBIG2Globals {gnum} 0 R >>")
                elif el[0] == "jbig2_halftone_image":
                    # halftone organization (T.88 §6.6/§6.7): input is
                    # GRAYSCALE — the encoder dithers it into a pattern
                    # dictionary + gray-code bitplane halftone region
                    from .jbig2 import encode_jbig2_halftone

                    full = encode_jbig2_halftone(arr)
                    split = 11 + 19
                    gnum = add_stream("", full[:split])
                    raw = full[split:]
                    filt, bpc = "/JBIG2Decode", 1
                    extra = (" /DecodeParms "
                             f"<< /JBIG2Globals {gnum} 0 R >>")
                elif el[0] == "jpx_image":
                    # JPEG 2000 (§7.4.9): lossless 5/3 reversible path in
                    # a JP2 box container — the payload self-describes
                    from .jp2 import encode_jp2

                    raw = encode_jp2(arr, levels=3, reversible=True)
                    filt, bpc = "/JPXDecode", 8
                elif el[0] == "stencil_image":
                    # §8.9.6.2 stencil mask: 1-bit, sample 0 paints the
                    # fill color (black); no /ColorSpace entry at all
                    raw = zlib.compress(
                        np.packbits(arr >= 128, axis=1).tobytes())
                    filt, bpc = "/FlateDecode", 1
                else:
                    raw = zlib.compress(arr.tobytes())
                    filt, bpc = "/FlateDecode", 8
                cs_entry = ("" if el[0] == "stencil_image"
                            else "/ColorSpace /DeviceGray ")
                mask_entry = ("/ImageMask true "
                              if el[0] == "stencil_image" else "")
                num = add_stream(
                    f"/Type /XObject /Subtype /Image /Width {iw} "
                    f"/Height {ih} {cs_entry}{mask_entry}"
                    f"/BitsPerComponent {bpc} /Filter {filt}{extra}", raw)
                name = f"Im{len(xobjects)}"
                xobjects[name] = num
                content.append(f"q {iw} 0 0 {ih} {x} {y} cm /{name} Do Q")
            else:
                raise ValueError(f"unknown element {el[0]!r}")
        # latin-1: inline-image blobs put raw bytes in the content stream
        cs = "\n".join(content).encode("latin-1")
        filt = ""
        if compress:
            cs, filt = zlib.compress(cs), "/Filter /FlateDecode"
        cnum = add_stream(filt, cs)
        xo = "".join(f"/{n} {num} 0 R " for n, num in xobjects.items())
        res = (f"<< /Font << /F1 {font} 0 R >>"
               + (f" /XObject << {xo}>>" if xo else "") + " >>")
        rot = f" /Rotate {rotate}" if rotate else ""
        kids.append(add(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {w} {h}]{rot} "
            f"/Resources {res} /Contents {cnum} 0 R >>".encode()))
    objs[pages_obj - 1] = (
        f"<< /Type /Pages /Kids [{' '.join(f'{k} 0 R' for k in kids)}] "
        f"/Count {len(kids)} >>".encode())

    if not modern:
        extra_trailer = ""
        if enc_key is not None:
            encnum = add(
                f"<< /Filter /Standard /V {enc_vals['V']} /R {enc_vals['R']}"
                f" /Length {enc_vals['Length']} /P {enc_vals['P']}"
                f" /O <{enc_vals['O'].hex()}> /U <{enc_vals['U'].hex()}>"
                f"{enc_vals['extra']} >>".encode())
            extra_trailer = (f" /Encrypt {encnum} 0 R"
                             f" /ID [<{enc_id0.hex()}> <{enc_id0.hex()}>]")
        out = bytearray(b"%PDF-1.4\n")
        offsets = [0] * (len(objs) + 1)
        for i, body in enumerate(objs, start=1):
            offsets[i] = len(out)
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_at = len(out)
        out += f"xref\n0 {len(objs) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for i in range(1, len(objs) + 1):
            out += f"{offsets[i]:010d} 00000 n \n".encode()
        out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R"
                f"{extra_trailer} >>\n"
                f"startxref\n{xref_at}\n%%EOF\n").encode()
        return bytes(out)

    # ---- modern (1.5+) layout: ObjStm for non-stream objects + xref STREAM
    out = bytearray(b"%PDF-1.5\n")
    nobj = len(objs)
    objstm_num, xref_num = nobj + 1, nobj + 2
    entries: dict[int, tuple] = {}
    packed: list[tuple[int, bytes]] = []
    for i, body in enumerate(objs, start=1):
        if b"\nstream\n" in body:                   # streams can't live in
            entries[i] = ("file", len(out))         # an ObjStm (§7.5.7)
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        else:
            packed.append((i, body))
    hdr_parts, payload = [], bytearray()
    for i, body in packed:
        hdr_parts.append(f"{i} {len(payload)}")
        payload += body + b"\n"
    header = (" ".join(hdr_parts) + "\n").encode()
    stm = zlib.compress(bytes(header + payload))
    for idx, (i, _) in enumerate(packed):
        entries[i] = ("objstm", objstm_num, idx)
    entries[objstm_num] = ("file", len(out))
    out += (f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(packed)} "
            f"/First {len(header)} /Filter /FlateDecode "
            f"/Length {len(stm)} >>\nstream\n").encode()
    out += stm + b"\nendstream\nendobj\n"
    xref_at = len(out)
    size = xref_num + 1
    rows = [(0, 0, 65535)]                          # free object 0
    for i in range(1, size):
        if i == xref_num:
            rows.append((1, xref_at, 0))
        elif entries[i][0] == "file":
            rows.append((1, entries[i][1], 0))
        else:
            rows.append((2, entries[i][1], entries[i][2]))
    raw_rows = b"".join(bytes([t]) + f2.to_bytes(4, "big")
                        + f3.to_bytes(2, "big") for t, f2, f3 in rows)
    # PNG Up predictor (12) over the 7-byte rows, like every real producer
    arr = np.frombuffer(raw_rows, dtype=np.uint8).reshape(size, 7)
    diff = arr.astype(np.int16)
    diff[1:] -= arr[:-1]
    pred = bytearray()
    for r in range(size):
        pred.append(2)                              # filter type Up
        pred += (diff[r] & 0xFF).astype(np.uint8).tobytes()
    xstm = zlib.compress(bytes(pred))
    out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /Root 1 0 R "
            f"/W [1 4 2] /Filter /FlateDecode "
            f"/DecodeParms << /Predictor 12 /Columns 7 >> "
            f"/Length {len(xstm)} >>\nstream\n").encode()
    out += xstm + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)
