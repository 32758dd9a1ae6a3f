"""Minimal from-scratch PDF parser: the born-digital ingest path.

The north rule names "PDF/layout parse" as part of main-content extraction
over interleaved text+media documents. A real web pipeline OCRs a PDF page
only when it has no text layer; born-digital pages are parsed directly from
the content stream (and skip the raster kernel entirely). This module is
that seam — the input-side complement of the raster codecs (the reference's
PDF support is output-side only: its renderer `src/api/pdfrenderer.cpp`
WRITES searchable PDFs whose text layer uses exactly the operator subset
parsed here — BT/ET, Tf, Td/Tm, Tj/TJ — so a reference-produced PDF
round-trips through this parser).

Scope (named errors at the seam for everything else, like codecs.py):
- classic cross-reference tables AND 1.5+ cross-reference STREAMS
  (/W-field rows, /Index spans), /Prev chains, incremental updates,
  hybrid /XRefStm files, and object streams (/ObjStm) — the layout every
  modern producer writes
- stream filters: none / FlateDecode (stdlib zlib) / LZWDecode
  (functions/bits.py, /EarlyChange 1 or 0) / ASCIIHexDecode /
  ASCII85Decode / RunLengthDecode, chained per ISO 32000 §7.4, with
  /DecodeParms PNG (10-15) and TIFF (2) predictors
- text: BT/ET, Tf, TL, Td, TD, Tm, T*, Tj, ', ", TJ with kerning,
  Tc/Tw/Tz/Ts char-, word-spacing, horizontal scale and rise (§9.4.4);
  /FirstChar+/Widths proportional metrics with a fixed-advance
  (Courier-style, 0.6 em) fallback; /Type0 Identity-H composite fonts
  (2-byte CIDs, descendant /W+/DW widths, /ToUnicode CMap text mapping
  with bfchar + both bfrange shapes) — the layout every real-world
  subset-embedded font uses; simple-font /Encoding with /WinAnsiEncoding
  and /Differences glyph-name remapping (AGL subset + uniXXXX names)
- images: XObject /Image with DCTDecode (functions/jpeg.py), CCITTFax
  (functions/ccitt.py, all /K shapes), JBIG2Decode (functions/jbig2.py —
  embedded segment stream, MMR generic regions, /JBIG2Globals honored;
  arithmetic/symbol codings raise named errors), JPXDecode (functions/
  jp2.py — full Part-1 JPEG 2000: MQ + EBCOT Tier-1, 5/3 + 9/7 DWT,
  JP2 container or raw codestream) or filtered/raw 8-bit /DeviceGray or
  /DeviceRGB (BT.601 luma collapse) incl. /Indexed palettes (1/2/4/8-bit
  indexes, string or stream lookup), /ICCBased-by-/N, /CalRGB//CalGray
  aliases and raw /DeviceCMYK, placed via the full q/Q + cm CTM
- Form XObjects: nested content streams under /Matrix-composed CTMs with
  their own resources (page fallback), recursion depth-capped
- /CropBox (inheritable, intersected with /MediaBox): geometry is
  crop-relative and content outside the visible region drops, like a
  viewer renders it
- /Rotate page normalization (inheritable): the display rotation composes
  into the base CTM, so rotated-Tm text and wrapped scans land upright in
  the swapped display box (full text-line-matrix placement, §9.4.2)
- inline images (BI/ID/EI, §8.9.7): abbreviated keys, filtered or raw
  data; image masks raise out-of-scope
- RC4-encrypted PDFs (standard security handler V1/V2 R2/R3 with an
  EMPTY user password — the restrict-permissions shape) decrypt
  transparently (functions/pdfcrypt.py); a real user password or AES
  raises a named error

Coordinates: PDF user space is bottom-up; emitted geometry is top-down
pixel space (1 unit = 1 px), matching the raster kernel's convention.

Mirror writer: sparkstract/fixtures/encoders/pdf.py (`encode_simple_pdf`).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np

from .jpeg import decode_gray_jpeg
from .raster import luma

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


# ------------------------------------------------------------------ parser


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num


class _Lexer:
    """Recursive-descent parser over PDF object syntax (ISO 32000 §7.3)."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.d = data
        self.i = pos

    def _ws(self) -> None:
        d, n = self.d, len(self.d)
        while self.i < n:
            c = self.d[self.i]
            if c in _WS:
                self.i += 1
            elif c == 0x25:  # % comment to EOL
                while self.i < n and d[self.i] not in b"\r\n":
                    self.i += 1
            else:
                return

    def token(self) -> bytes:
        """Next regular token (keyword/number) — not strings/dicts."""
        self._ws()
        start = self.i
        n = len(self.d)
        while self.i < n and self.d[self.i] not in _WS \
                and self.d[self.i] not in _DELIM:
            self.i += 1
        return self.d[start:self.i]

    def value(self):  # noqa: C901 — one dispatch, flat branches
        self._ws()
        d, i = self.d, self.i
        c = d[i:i + 1]
        if c == b"<":
            if d[i + 1:i + 2] == b"<":
                return self._dict()
            return self._hexstr()
        if c == b"(":
            return self._litstr()
        if c == b"[":
            self.i += 1
            out = []
            while True:
                self._ws()
                if d[self.i:self.i + 1] == b"]":
                    self.i += 1
                    return out
                out.append(self.value())
        if c == b"/":
            self.i += 1
            return "/" + self.token().decode("latin-1")
        tok = self.token()
        if tok in (b"true", b"false"):
            return tok == b"true"
        if tok == b"null":
            return None
        # number — possibly the start of an `N G R` indirect reference
        txt = tok.decode("latin-1")
        save = self.i
        if txt.lstrip("+-").isdigit():
            g = _Lexer(d, self.i)
            t2 = g.token()
            if t2.isdigit():
                t3 = g.token()
                if t3 == b"R":
                    self.i = g.i
                    return _Ref(int(txt))
        self.i = save
        try:
            return int(txt)
        except ValueError:
            try:
                return float(txt)
            except ValueError:
                raise ValueError(f"bad PDF token {txt!r}") from None

    def _dict(self) -> dict:
        self.i += 2
        out: dict = {}
        while True:
            self._ws()
            if self.d[self.i:self.i + 2] == b">>":
                self.i += 2
                return out
            if self.d[self.i:self.i + 1] != b"/":
                raise ValueError("PDF dict key must be a name")
            self.i += 1
            key = "/" + self.token().decode("latin-1")
            out[key] = self.value()

    def _hexstr(self) -> bytes:
        j = self.d.index(b">", self.i)
        hx = bytes(c for c in self.d[self.i + 1:j] if c not in _WS)
        if len(hx) % 2:
            hx += b"0"
        self.i = j + 1
        return bytes.fromhex(hx.decode("latin-1"))

    def _litstr(self) -> bytes:
        d = self.d
        i = self.i + 1
        depth = 1
        out = bytearray()
        while depth:
            c = d[i:i + 1]
            if not c:
                raise ValueError("unterminated PDF string")
            if c == b"\\":
                e = d[i + 1:i + 2]
                i += 2
                if e in b"nrtbf":
                    out += {b"n": b"\n", b"r": b"\r", b"t": b"\t",
                            b"b": b"\b", b"f": b"\x0c"}[e]
                elif e.isdigit():
                    oct_ = e
                    while len(oct_) < 3 and d[i:i + 1].isdigit():
                        oct_ += d[i:i + 1]
                        i += 1
                    out.append(int(oct_, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == b"\r" and d[i:i + 1] == b"\n":
                        i += 1
                else:
                    out += e
                continue
            if c == b"(":
                depth += 1
            elif c == b")":
                depth -= 1
                if not depth:
                    i += 1
                    break
            out += c
            i += 1
        self.i = i
        return bytes(out)


@dataclass
class PdfPage:
    """One parsed page: size + content items in stream order.

    items: ``("text", x, y_baseline, size, text, cum)`` in PDF (bottom-up)
    user space — `cum` is the cumulative per-char advance in user units
    (len(text)+1 entries, from the font's /Widths table or the ADVANCE
    fallback) — or ``("image", arr, left, top, right, bottom)`` already in
    top-down pixel space."""

    width: int
    height: int
    items: list[tuple] = field(default_factory=list)

    @property
    def has_text(self) -> bool:
        return any(it[0] == "text" for it in self.items)


def _mat_mul(a, b):
    """2x3 affine (a b c d e f) composition: result = a THEN b."""
    a0, a1, a2, a3, a4, a5 = a
    b0, b1, b2, b3, b4, b5 = b
    return (a0 * b0 + a1 * b2, a0 * b1 + a1 * b3,
            a2 * b0 + a3 * b2, a2 * b1 + a3 * b3,
            a4 * b0 + a5 * b2 + b4, a4 * b1 + a5 * b3 + b5)


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

ADVANCE = 0.6  # Courier-style fixed advance, fraction of font size


def _decrypt_val(v, fn, key):
    """Recursively decrypt every string leaf of a parsed PDF value with
    fn(key, bytes) — RC4 or IV-prefixed AES-CBC per the handler's method
    (§7.6.2: strings and streams are encrypted; names/numbers are not)."""
    if isinstance(v, bytes):
        return fn(key, v)
    if isinstance(v, list):
        return [_decrypt_val(x, fn, key) for x in v]
    if isinstance(v, dict):
        return {k: _decrypt_val(x, fn, key) for k, x in v.items()}
    return v


def parse_pdf(data: bytes) -> list[PdfPage]:
    """PDF bytes -> list of PdfPage (the whole-document read path)."""
    if data[:5] != b"%PDF-":
        raise ValueError("not a PDF")
    offsets, trailer = _xref(data)
    # Standard-security-handler decryption (§7.6.3): the key derives
    # from the EMPTY user password — the restrict-permissions shape real
    # generators emit — authenticated against /U before anything decrypts;
    # RC4 (V1/V2), AESV2 (V4) and AESV3 (V5 R5/R6) are all handled
    # (pdfcrypt.reader_key); a real user password raises a named error.
    # crypt["key"] stays None until the /Encrypt dict itself has been
    # fetched, so that dict and the trailer's /ID are read plaintext (both
    # exempt per §7.6.2); xref streams decode in _xref, also exempt.
    crypt: dict = {"key": None, "method": None}

    cache: dict[int, object] = {}
    objstm_cache: dict[int, tuple[bytes, dict[int, int], int]] = {}
    loading: set[int] = set()

    def load_objstm(cnum: int) -> tuple[bytes, dict[int, int], int]:
        """Decode an object stream (/Type /ObjStm, ISO 32000 §7.5.7):
        returns (decoded bytes, objnum -> body offset, /First)."""
        if cnum not in objstm_cache:
            stm = getobj(cnum)
            if not (isinstance(stm, tuple) and stm[0] == "stream"):
                raise ValueError("PDF object stream: not a stream")
            d = stm[1]
            body = _apply_filters(d, stm[2], deref)
            first = deref(d.get("/First", 0))
            count = deref(d.get("/N", 0))
            hx = _Lexer(body)
            offs: dict[int, int] = {}
            for _ in range(count):
                onum, ooff = int(hx.token()), int(hx.token())
                offs[onum] = ooff
            objstm_cache[cnum] = (body, offs, first)
        return objstm_cache[cnum]

    def getobj(num: int):
        if num in cache:
            return cache[num]
        ent = offsets.get(num)
        if ent is None:
            raise ValueError(f"PDF object {num} missing from xref")
        if num in loading:  # an ObjStm whose entry points into itself
            raise ValueError("cyclic PDF object-stream reference")
        loading.add(num)
        try:
            if ent[0] == "file":
                lx = _Lexer(data, ent[1])
                t1, t2 = lx.token(), lx.token()
                if not (t1.isdigit() and t2.isdigit()
                        and lx.token() == b"obj"):
                    raise ValueError(f"PDF object {num}: bad header")
                gen = int(t2)
                val = lx.value()
                lx._ws()
                if data[lx.i:lx.i + 6] == b"stream":
                    lx.i += 6
                    if data[lx.i:lx.i + 2] == b"\r\n":
                        lx.i += 2
                    elif data[lx.i:lx.i + 1] in (b"\n", b"\r"):
                        lx.i += 1
                    length = deref(val["/Length"])
                    raw = data[lx.i:lx.i + length]
                    val = ("stream", val, raw)
                if crypt["key"] is not None:
                    from .pdfcrypt import decryptor

                    fn, ok = decryptor(crypt["key"], crypt["method"],
                                       num, gen)
                    if isinstance(val, tuple) and val[0] == "stream":
                        val = ("stream", _decrypt_val(val[1], fn, ok),
                               fn(ok, val[2]))
                    else:
                        val = _decrypt_val(val, fn, ok)
            else:                                   # ("objstm", cnum, idx)
                body, offs, first = load_objstm(ent[1])
                if num not in offs:
                    raise ValueError(f"PDF object {num}: not in its ObjStm")
                val = _Lexer(body, first + offs[num]).value()
            cache[num] = val
        finally:
            loading.discard(num)
        return cache[num]

    def deref(v):
        # a self/cyclic reference chain (`1 0 obj 1 0 R endobj`) would spin
        # forever — a hang inside an executor task, worse than a crash at
        # 10^12-doc scale (same guard class as the TIFF IFD-cycle check)
        for _ in range(64):
            if not isinstance(v, _Ref):
                return v
            v = getobj(v.num)
        raise ValueError("PDF reference chain too deep or cyclic")

    if "/Encrypt" in trailer:
        from .pdfcrypt import reader_key

        ids = trailer.get("/ID")
        id0 = (ids[0] if isinstance(ids, list) and ids
               and isinstance(ids[0], bytes) else b"")
        crypt["key"], crypt["method"] = reader_key(
            deref(trailer["/Encrypt"]), id0, deref)

    root = deref(trailer["/Root"])
    pages: list[PdfPage] = []

    def walk(node, inherited_box, inherited_crop, inherited_rot):
        node = deref(node)
        box = deref(node.get("/MediaBox", inherited_box))
        crop = deref(node.get("/CropBox", inherited_crop))
        rot = deref(node.get("/Rotate", inherited_rot))
        if deref(node.get("/Type")) == "/Pages" or "/Kids" in node:
            for kid in deref(node["/Kids"]):
                walk(kid, box, crop, rot)
            return
        eff = box
        if crop is not None:
            # the visible region is CropBox ∩ MediaBox (ISO 32000 §14.11.2)
            m = [float(deref(v)) for v in box]
            c = [float(deref(v)) for v in crop]
            eff = [max(min(c[0], c[2]), min(m[0], m[2])),
                   max(min(c[1], c[3]), min(m[1], m[3])),
                   min(max(c[0], c[2]), max(m[0], m[2])),
                   min(max(c[1], c[3]), max(m[1], m[3]))]
            if eff[2] <= eff[0] or eff[3] <= eff[1]:
                eff = box
        pages.append(_read_page(node, eff, deref, int(rot) % 360))
        if len(pages) > 10_000:  # same executor-hang guard as the TIFF chain
            raise ValueError("oversized PDF page tree")

    walk(root["/Pages"], [0, 0, 612, 792], None, 0)
    return pages


def _read_stream_at(data: bytes, off: int) -> tuple[dict, bytes]:
    """Read an `N G obj << ... >> stream` at a byte offset WITHOUT an xref
    (bootstrap path for xref streams). Indirect /Length falls back to
    scanning for endstream."""
    lx = _Lexer(data, off)
    if not (lx.token().isdigit() and lx.token().isdigit()
            and lx.token() == b"obj"):
        raise ValueError("PDF xref: bad object header")
    d = lx.value()
    if not isinstance(d, dict):
        raise ValueError("PDF xref: stream dict expected")
    lx._ws()
    if data[lx.i:lx.i + 6] != b"stream":
        raise ValueError("PDF xref: stream keyword expected")
    lx.i += 6
    if data[lx.i:lx.i + 2] == b"\r\n":
        lx.i += 2
    elif data[lx.i:lx.i + 1] in (b"\n", b"\r"):
        lx.i += 1
    length = d.get("/Length")
    if isinstance(length, int):
        raw = data[lx.i:lx.i + length]
    else:
        end = data.find(b"endstream", lx.i)
        if end < 0:
            raise ValueError("PDF xref: unterminated stream")
        raw = data[lx.i:end].rstrip(b"\r\n")
    return d, raw


def _xref_stream_entries(d: dict, raw: bytes, entries: dict) -> None:
    """Parse a 1.5+ cross-reference stream (ISO 32000 §7.5.8): /W field
    widths over (type, f2, f3) rows; type 1 = file offset, type 2 =
    (object stream number, index). First-seen entries win."""
    ident = lambda v: v  # noqa: E731 — xref dicts hold direct values
    filters, parms = _filter_list(d, ident)
    body = _filter_chain(filters, raw, parms, ident)
    w = d.get("/W")
    if not isinstance(w, list) or len(w) != 3:
        raise ValueError("PDF xref stream: bad /W")
    w1, w2, w3 = (int(x) for x in w)
    rowlen = w1 + w2 + w3
    if rowlen <= 0 or max(w1, w2, w3) > 8:
        # a zero row length would spin the entry loop forever inside an
        # executor task (same guard class as the deref hop cap)
        raise ValueError("PDF xref stream: bad /W widths")
    index = d.get("/Index", [0, d.get("/Size", 0)])
    spans = [(int(index[i]), int(index[i + 1]))
             for i in range(0, len(index) - 1, 2)]
    p = 0
    for start, count in spans:
        for k in range(count):
            if p + rowlen > len(body):
                raise ValueError("PDF xref stream: truncated")
            t = int.from_bytes(body[p:p + w1], "big") if w1 else 1
            f2 = int.from_bytes(body[p + w1:p + w1 + w2], "big")
            f3 = int.from_bytes(body[p + w1 + w2:p + rowlen], "big")
            p += rowlen
            num = start + k
            if num in entries:
                continue  # incremental updates: the NEWEST wins (first seen)
            if t == 1:
                entries[num] = ("file", f2)
            elif t == 2:
                entries[num] = ("objstm", f2, f3)
            # type 0 (free) and unknown types: skip per spec


def _xref(data: bytes) -> tuple[dict[int, tuple], dict]:
    at = data.rfind(b"startxref")
    if at < 0:
        raise ValueError("PDF has no startxref")
    entries: dict[int, tuple] = {}
    trailer: dict | None = None
    seen: set[int] = set()
    queue = [int(_Lexer(data, at + 9).token())]
    while queue:
        off = queue.pop(0)
        if off in seen:
            raise ValueError("cyclic PDF xref chain")
        seen.add(off)
        if len(seen) > 1024:
            raise ValueError("oversized PDF xref chain")
        lx = _Lexer(data, off)
        if lx.token() == b"xref":                   # classic table
            while True:
                tok = lx.token()
                if tok == b"trailer":
                    break
                start, count = int(tok), int(lx.token())
                for k in range(count):
                    o, _gen, kind = lx.token(), lx.token(), lx.token()
                    num = start + k
                    # incremental updates: the NEWEST table wins (first seen)
                    if kind == b"n" and num not in entries:
                        entries[num] = ("file", int(o))
            tr = lx.value()
            if trailer is None:
                trailer = tr
            # hybrid files: the supplementary xref STREAM of this section
            # is consulted before any older section (ISO 32000 §7.5.8.4)
            if "/XRefStm" in tr:
                queue.append(tr["/XRefStm"])
            if "/Prev" in tr:
                queue.append(tr["/Prev"])
        else:                                       # 1.5+ xref stream
            d, raw = _read_stream_at(data, off)
            _xref_stream_entries(d, raw, entries)
            if trailer is None:
                trailer = d
            if "/Prev" in d:
                queue.append(d["/Prev"])
    if trailer is None:
        raise ValueError("PDF has no trailer")
    return entries, trailer


def _ascii_hex_decode(raw: bytes) -> bytes:
    body = raw.split(b">", 1)[0]
    hx = bytes(c for c in body if c not in _WS)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("latin-1"))


def _ascii85_decode(raw: bytes) -> bytes:
    body = raw.split(b"~>", 1)[0]
    if body.startswith(b"<~"):
        body = body[2:]
    body = bytes(c for c in body if c not in _WS)
    out = bytearray()
    i, n = 0, len(body)
    while i < n:
        if body[i:i + 1] == b"z":  # shorthand for four zero bytes
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        grp = body[i:i + 5]
        i += len(grp)
        pad = 5 - len(grp)
        grp += b"u" * pad
        v = 0
        for c in grp:
            if not 33 <= c <= 117:
                raise ValueError("bad ASCII85 character")
            v = v * 85 + (c - 33)
        if v > 0xFFFFFFFF:
            raise ValueError("ASCII85 group overflow")
        out += v.to_bytes(4, "big")[:4 - pad]
    return bytes(out)


def _rle_decode(raw: bytes) -> bytes:
    """RunLengthDecode (ISO 32000 §7.4.5) — PackBits with an explicit
    128 EOD byte."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        i += 1
        if c == 128:  # EOD
            break
        if c < 128:
            out += raw[i:i + c + 1]
            i += c + 1
        else:
            out += bytes([raw[i]]) * (257 - c)
            i += 1
    return bytes(out)


def _apply_predictor(parms: dict, raw: bytes, deref) -> bytes:
    """/DecodeParms post-pass (ISO 32000 §7.4.4.4): PNG row predictors
    (10-15, ubiquitous in xref streams) and TIFF horizontal (2)."""
    pred = deref(parms.get("/Predictor", 1))
    if pred == 1:
        return raw
    colors = deref(parms.get("/Colors", 1))
    bpc = deref(parms.get("/BitsPerComponent", 8))
    columns = deref(parms.get("/Columns", 1))
    if bpc != 8:
        raise ValueError("PDF predictor: only 8-bit components supported")
    bpp = max(1, colors)
    stride = columns * colors
    if pred >= 10:                 # PNG predictors, filter byte per row
        from .png import _defilter

        h = len(raw) // (stride + 1)
        arr = np.frombuffer(raw[:h * (stride + 1)],
                            dtype=np.uint8).reshape(h, stride + 1)
        return _defilter(arr, bpp).tobytes()
    if pred == 2:                  # TIFF horizontal differencing
        h = len(raw) // stride
        arr = np.frombuffer(raw[:h * stride], dtype=np.uint8)
        arr = arr.reshape(h, columns, colors).astype(np.int64)
        return np.cumsum(arr, axis=1).astype(np.uint8).tobytes()
    raise ValueError(f"PDF predictor {pred}: out of scope")


_MAX_STREAM = 1 << 28   # 256 MB inflate cap: decompression-bomb guard


def _filter_chain(filters: list, raw: bytes, parms: list | None = None,
                  deref=lambda v: v) -> bytes:
    parms = parms or [None] * len(filters)
    for f, pm in zip(filters, parms):
        if f in ("/FlateDecode", "/Fl"):
            dec = zlib.decompressobj()
            out = dec.decompress(raw, _MAX_STREAM)
            if dec.unconsumed_tail:
                raise ValueError("PDF stream exceeds the inflate cap")
            raw = out
        elif f in ("/LZWDecode", "/LZW"):
            from .bits import lzw_decode

            early = int(deref((pm or {}).get("/EarlyChange", 1))) != 0
            raw = lzw_decode(raw, early=early, max_out=_MAX_STREAM)
        elif f in ("/ASCIIHexDecode", "/AHx"):
            raw = _ascii_hex_decode(raw)
        elif f in ("/ASCII85Decode", "/A85"):
            raw = _ascii85_decode(raw)
        elif f in ("/RunLengthDecode", "/RL"):
            raw = _rle_decode(raw)
        elif f == "/JPXDecode":
            # image-only filter; decoded at the image seam (_decode_image)
            raise ValueError("PDF filter /JPXDecode outside an image "
                             "XObject: not valid")
        elif f == "/JBIG2Decode":
            # image-only filter; decoded at the image seam (_decode_image)
            raise ValueError("PDF filter /JBIG2Decode outside an image "
                             "XObject: not valid")
        else:
            raise ValueError(
                f"PDF filter {f}: out of scope (none/Flate/LZW/ASCIIHex/"
                "ASCII85/RunLength supported; DCT/CCITTFax/JBIG2 on images)")
        if pm:
            raw = _apply_predictor(pm, raw, deref)
    return raw


def _filter_list(d: dict, deref) -> tuple[list, list]:
    """(filter names, aligned /DecodeParms dicts-or-None) of a stream."""
    filt = deref(d.get("/Filter"))
    out = []
    for f in ([filt] if not isinstance(filt, list) else filt):
        f = deref(f)
        if f is not None:
            out.append(f)
    parms = deref(d.get("/DecodeParms", d.get("/DP")))
    if not isinstance(parms, list):
        parms = [parms]
    parms = [deref(p) or None for p in parms]
    parms += [None] * (len(out) - len(parms))
    return out, parms[:len(out)]


def _apply_filters(d: dict, raw: bytes, deref) -> bytes:
    filters, parms = _filter_list(d, deref)
    return _filter_chain(filters, raw, parms, deref)


def _decode_image(d: dict, raw: bytes, deref) -> np.ndarray:
    w, h = deref(d["/Width"]), deref(d["/Height"])
    filters, parms = _filter_list(d, deref)
    if filters and filters[-1] in ("/DCTDecode", "/DCT"):
        # transport filters (A85/AHx/RL) may wrap the JPEG bytes
        return decode_gray_jpeg(
            _filter_chain(filters[:-1], raw, parms[:-1], deref))
    if filters and filters[-1] == "/JPXDecode":
        # JPEG 2000 (ISO 32000 §7.4.9): the payload is a self-describing
        # JP2 container or raw codestream — /Width//Height//ColorSpace on
        # the dict are advisory. Decoded by the from-scratch Part-1
        # implementation (functions/jp2.py: MQ + EBCOT + 5/3 / 9/7 DWT).
        from .jp2 import decode_jp2

        return decode_jp2(
            _filter_chain(filters[:-1], raw, parms[:-1], deref))[:h, :w]
    if filters and filters[-1] in ("/CCITTFaxDecode", "/CCF"):
        # the dominant scanned-PDF image shape — reuse the from-scratch
        # fax family (functions/ccitt.py). /K selects the coding (§7.4.6):
        # <0 pure G4 (T.6), 0 one-dimensional (MH without EOLs, or T.4 1D
        # when /EndOfLine), >0 mixed T.4 2D. /BlackIs1 only flips the
        # FILTER's packed-byte convention; the run semantics are always
        # white-first, and this path goes straight to gray, so ink
        # polarity is fixed by the codec itself.
        from .ccitt import g3_decode, g4_decode, mh_decode

        pm = deref(parms[-1]) if parms and parms[-1] else {}
        pm = pm if isinstance(pm, dict) else {}
        eba = bool(deref(pm.get("/EncodedByteAlign", False)))
        k = int(deref(pm.get("/K", 0)))
        cols = int(deref(pm.get("/Columns", 1728)))
        rows = int(deref(pm.get("/Rows", h)))
        body = _filter_chain(filters[:-1], raw, parms[:-1], deref)
        if k < 0:
            # /EncodedByteAlign pads every row's codes to a byte boundary
            bits = g4_decode(body, cols, rows, align=eba)
        elif k == 0:
            # /EndOfLine selects EOL-separated T.4 1D (whose EOL sync
            # already absorbs alignment fill); the default packs 1D rows
            # back-to-back — byte-aligned iff /EncodedByteAlign
            bits = (g3_decode(body, cols, rows, two_d=False)
                    if deref(pm.get("/EndOfLine", False))
                    else mh_decode(body, cols, rows, align=eba))
        else:
            # K>0 rows are EOL-delimited; alignment is fill bits the EOL
            # scan skips, so /EncodedByteAlign needs no special handling
            bits = g3_decode(body, cols, rows, two_d=True)
        gray = ((1 - bits[:h, :w]) * 255).astype(np.uint8)
        dec = deref(d.get("/Decode"))
        if isinstance(dec, list) and len(dec) == 2 \
                and float(deref(dec[0])) == 1.0:
            gray = 255 - gray          # /Decode [1 0] inverts
        return gray
    if filters and filters[-1] == "/JBIG2Decode":
        # the other archival scanned-PDF shape (ISO 32000 §7.4.7): the
        # embedded segment stream (functions/jbig2.py — every T.88
        # coding family: generic MMR/MQ, symbol/text in both
        # organizations, halftone, refinement); /JBIG2Globals carries
        # shared segments.
        from .jbig2 import decode_jbig2

        pm = deref(parms[-1]) if parms and parms[-1] else {}
        pm = pm if isinstance(pm, dict) else {}
        gobj = deref(pm.get("/JBIG2Globals"))
        gbytes = b""
        if isinstance(gobj, tuple) and gobj and gobj[0] == "stream":
            gfilters, gparms = _filter_list(deref(gobj[1]), deref)
            gbytes = _filter_chain(gfilters, gobj[2], gparms, deref)
        body = _filter_chain(filters[:-1], raw, parms[:-1], deref)
        bits = decode_jbig2(body, gbytes)
        gray = ((1 - bits[:h, :w]) * 255).astype(np.uint8)
        dec = deref(d.get("/Decode"))
        if isinstance(dec, list) and len(dec) == 2 \
                and float(deref(dec[0])) == 1.0:
            gray = 255 - gray          # /Decode [1 0] inverts
        return gray
    if deref(d.get("/ImageMask", False)) in (True, "true"):
        # §8.9.6.2 stencil mask: 1-bit samples select where the CURRENT
        # fill color paints; unmasked areas are transparent. The luma
        # model composites onto the white page with black fill — the
        # overwhelming real-world use (text stamps, logos, whole bilevel
        # scan pages written as ImageMask) — so sample 0 paints ink and
        # 1 stays background; /Decode [1 0] flips. CCITT/JBIG2-filtered
        # masks already took the fax/jbig2 branches above, which produce
        # exactly this black-on-white composite.
        if int(deref(d.get("/BitsPerComponent", 1))) != 1:
            raise ValueError("PDF /ImageMask: BitsPerComponent must be 1")
        body = _filter_chain(filters, raw, parms, deref)
        stride = (w + 7) // 8
        rows = np.frombuffer(body[:h * stride], np.uint8)
        if rows.size < h * stride:
            raise ValueError("truncated PDF /ImageMask raster")
        bits = np.unpackbits(rows.reshape(h, stride), axis=1)[:, :w]
        dec = deref(d.get("/Decode"))
        if isinstance(dec, list) and len(dec) == 2 \
                and float(deref(dec[0])) == 1.0:
            bits = 1 - bits
        return (bits * 255).astype(np.uint8)
    cs = deref(d.get("/ColorSpace", "/DeviceGray"))
    bpc = deref(d.get("/BitsPerComponent", 8))
    if isinstance(cs, list) and cs and deref(cs[0]) == "/Indexed":
        # /Indexed palette (ISO 32000 §8.6.6.3): [/Indexed base hival
        # lookup], sample = palette index at 1/2/4/8 bits, rows padded to
        # byte boundaries — the born-digital logo/diagram shape
        if len(cs) != 4:
            raise ValueError("PDF /Indexed color space: malformed array")
        base, hival = deref(cs[1]), int(deref(cs[2]))
        lookup = deref(cs[3])
        if isinstance(lookup, tuple) and lookup and lookup[0] == "stream":
            lf, lp = _filter_list(deref(lookup[1]), deref)
            pal = _filter_chain(lf, lookup[2], lp, deref)
        elif isinstance(lookup, (bytes, str)):
            pal = lookup.encode("latin-1") if isinstance(lookup, str) \
                else lookup
        else:
            raise ValueError("PDF /Indexed lookup: unsupported shape")
        ncomp = {"/DeviceRGB": 3, "/DeviceGray": 1}.get(base)
        if ncomp is None:
            raise ValueError(f"PDF /Indexed base {base}: out of scope")
        if bpc not in (1, 2, 4, 8):
            raise ValueError("PDF /Indexed: illegal BitsPerComponent")
        raw = _filter_chain(filters, raw, parms, deref)
        stride = (w * bpc + 7) // 8
        rows = np.frombuffer(raw[:h * stride], dtype=np.uint8)
        if rows.size < h * stride:
            raise ValueError("truncated PDF /Indexed raster")
        rows = rows.reshape(h, stride)
        if bpc == 8:
            idx = rows[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            idx = np.zeros((h, w), np.uint8)
            for b in range(bpc):   # MSB-first packing within each byte
                idx = (idx << 1) | bits[:, b::bpc][:, :w]
        idx = np.minimum(idx, hival)
        table = np.frombuffer(pal[:(hival + 1) * ncomp], dtype=np.uint8)
        if table.size < (hival + 1) * ncomp:
            raise ValueError("PDF /Indexed lookup shorter than hival+1")
        if ncomp == 1:
            return table[idx]
        return luma(table.reshape(-1, 3)[idx])
    if isinstance(cs, list) and cs and deref(cs[0]) == "/ICCBased":
        # §8.6.5.5: the ICC profile itself is irrelevant for luma — the
        # component count (/N on the profile stream) picks the device
        # space, which is what every real-world viewer falls back to
        prof = deref(cs[1]) if len(cs) > 1 else None
        ncomp = 3
        if isinstance(prof, tuple) and prof and prof[0] == "stream":
            ncomp = int(deref(deref(prof[1]).get("/N", 3)))
        cs = {1: "/DeviceGray", 3: "/DeviceRGB",
              4: "/DeviceCMYK"}.get(ncomp)
        if cs is None:
            raise ValueError("PDF /ICCBased image: unsupported /N")
    elif isinstance(cs, list) and cs and deref(cs[0]) in ("/CalRGB",
                                                          "/CalGray"):
        cs = "/DeviceRGB" if deref(cs[0]) == "/CalRGB" else "/DeviceGray"
    if bpc != 8 or cs not in ("/DeviceGray", "/DeviceRGB", "/DeviceCMYK"):
        raise ValueError("PDF image: only 8-bit /DeviceGray, /DeviceRGB "
                         "or /DeviceCMYK (direct, /ICCBased, /CalRGB, "
                         "/CalGray, /Indexed, or DCTDecode) supported")
    raw = _filter_chain(filters, raw, parms, deref)
    if cs == "/DeviceCMYK":
        # non-inverted ink (the PDF convention, unlike Adobe JPEG APP14):
        # gray = (255 - K) scaled by (255 - gray-component ink)
        px = np.frombuffer(raw[:w * h * 4], dtype=np.uint8)             .reshape(h, w, 4).astype(np.int32)
        c, m, y_, k = px[:, :, 0], px[:, :, 1], px[:, :, 2], px[:, :, 3]
        gray_ink = luma(c, m, y_).astype(np.int32)
        return (((255 - gray_ink) * (255 - k)) // 255).astype(np.uint8)
    if cs == "/DeviceRGB":
        return luma(np.frombuffer(raw[:w * h * 3],
                                  dtype=np.uint8).reshape(h, w, 3))
    return np.frombuffer(raw[:w * h], dtype=np.uint8).reshape(h, w)


# Simple-font /Encoding (ISO 32000 §9.6.6): byte code -> unicode.
# Base encodings differ from latin-1 only in 0x80-0x9F (WinAnsi) — the
# curly-quote/dash range every Word-exported PDF uses.
_WINANSI_HIGH = {
    0x80: "\u20ac", 0x82: "\u201a", 0x83: "\u0192", 0x84: "\u201e",
    0x85: "\u2026", 0x86: "\u2020", 0x87: "\u2021", 0x88: "\u02c6",
    0x89: "\u2030", 0x8a: "\u0160", 0x8b: "\u2039", 0x8c: "\u0152",
    0x8e: "\u017d", 0x91: "\u2018", 0x92: "\u2019", 0x93: "\u201c",
    0x94: "\u201d", 0x95: "\u2022", 0x96: "\u2013", 0x97: "\u2014",
    0x98: "\u02dc", 0x99: "\u2122", 0x9a: "\u0161", 0x9b: "\u203a",
    0x9c: "\u0153", 0x9e: "\u017e", 0x9f: "\u0178",
}

# Adobe Glyph List subset: the names /Differences arrays actually use for
# ASCII text plus the uniXXXX escape hatch (parsed in _glyph_to_unicode)
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "\u2018",
    "quoteright": "\u2019", "quotedblleft": "\u201c",
    "quotedblright": "\u201d", "endash": "\u2013", "emdash": "\u2014",
    "bullet": "\u2022", "ellipsis": "\u2026", "fi": "\ufb01",
    "fl": "\ufb02", "adieresis": "\u00e4", "odieresis": "\u00f6",
    "udieresis": "\u00fc", "Adieresis": "\u00c4", "Odieresis": "\u00d6",
    "Udieresis": "\u00dc", "germandbls": "\u00df", "eacute": "\u00e9",
    "egrave": "\u00e8", "agrave": "\u00e0", "ccedilla": "\u00e7",
    "ntilde": "\u00f1", "degree": "\u00b0", "euro": "\u20ac",
}
for _c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz":
    _GLYPH_NAMES[_c] = _c


def _glyph_to_unicode(name: str) -> str:
    """AGL glyph name -> text ("" when unknown — skipped, not guessed)."""
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return ""
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return ""
    return ""


def _simple_encoding(enc, deref) -> dict | None:
    """/Encoding entry of a simple font -> {byte: unicode} overrides, or
    None for plain latin-1 (StandardEncoding approximation)."""
    emap: dict[int, str] = {}
    base = enc if isinstance(enc, str) else None
    diffs = None
    if isinstance(enc, dict):
        base = deref(enc.get("/BaseEncoding"))
        diffs = deref(enc.get("/Differences"))
    if base == "/WinAnsiEncoding":
        emap.update(_WINANSI_HIGH)
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            item = deref(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, str) and item.startswith("/"):
                u = _glyph_to_unicode(item[1:])
                if u:
                    emap[code] = u
                code += 1
    return emap or None


def _cid_widths(warr, deref) -> dict[int, float]:
    """Descendant-font /W array (ISO 32000 §9.7.4.3) -> cid -> width.
    Two entry shapes, freely mixed: `c [w1 w2 ...]` and `cFirst cLast w`."""
    out: dict[int, float] = {}
    if not isinstance(warr, list):
        return out
    i = 0
    while i + 1 < len(warr):
        c = int(deref(warr[i]))
        nxt = deref(warr[i + 1])
        if isinstance(nxt, list):
            for j, wv in enumerate(nxt):
                out[c + j] = float(deref(wv))
            i += 2
        else:
            if i + 2 >= len(warr):
                break
            c2 = int(nxt)
            wv = float(deref(warr[i + 2]))
            if c2 - c > 65535:
                raise ValueError("PDF /W range too large")
            for cid in range(c, c2 + 1):
                out[cid] = wv
            i += 3
    return out


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """/ToUnicode CMap -> cid -> text (bfchar + both bfrange shapes).
    The CMap is PostScript-syntax; only the bf sections carry mappings,
    so they are scanned directly (ISO 32000 §9.10.3)."""
    import re

    out: dict[int, str] = {}

    def utf16(hx: bytes) -> str:
        b = bytes.fromhex(hx.decode("latin-1"))
        if len(b) % 2:
            b = b[:-1]
        return b.decode("utf-16-be", errors="replace")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        for src, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            out[int(src, 16)] = utf16(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        body = m.group(1)
        for lo, hi, arr in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*\[(.*?)\]",
                body, re.S):
            dsts = re.findall(rb"<([0-9A-Fa-f]+)>", arr)
            for k, d in enumerate(dsts):
                out[int(lo, 16) + k] = utf16(d)
        # strip array-form entries first: their hex items would otherwise
        # false-match the three-hex continuous-range pattern
        body = re.sub(rb"<[0-9A-Fa-f]+>\s*<[0-9A-Fa-f]+>\s*\[.*?\]", b"",
                      body, flags=re.S)
        for lo, hi, dst in re.findall(
                rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                body):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if hi_i - lo_i > 65535:
                raise ValueError("PDF bfrange too large")
            base = utf16(dst)
            if not base:
                continue
            head, last = base[:-1], ord(base[-1])
            for k in range(hi_i - lo_i + 1):
                out.setdefault(lo_i + k, head + chr(last + k))
    return out


def _read_page(node: dict, box, deref, rotate: int = 0) -> PdfPage:
    x0, y0, x1, y1 = [float(deref(v)) for v in box]
    uw, uh = x1 - x0, y1 - y0                       # user-space box
    # /Rotate normalization: compose the clockwise display rotation into
    # the base CTM so all geometry lands in UPRIGHT display space (the
    # block layer groups lines by y and needs horizontal baselines). The
    # translate(-x0,-y0) also folds in here, so emitted coordinates are
    # display-box-relative directly.
    shift = (1.0, 0.0, 0.0, 1.0, -x0, -y0)
    if rotate == 90:
        base = _mat_mul(shift, (0.0, -1.0, 1.0, 0.0, 0.0, uw))
        pw, ph = int(round(uh)), int(round(uw))
    elif rotate == 180:
        base = _mat_mul(shift, (-1.0, 0.0, 0.0, -1.0, uw, uh))
        pw, ph = int(round(uw)), int(round(uh))
    elif rotate == 270:
        base = _mat_mul(shift, (0.0, 1.0, -1.0, 0.0, uh, 0.0))
        pw, ph = int(round(uh)), int(round(uw))
    else:
        base = shift
        pw, ph = int(round(uw)), int(round(uh))
    page = PdfPage(width=pw, height=ph)

    contents = deref(node.get("/Contents"))
    if contents is None:
        return page
    parts = contents if isinstance(contents, list) else [contents]
    stream = b"\n".join(
        _apply_filters(s[1], s[2], deref)
        for s in (deref(p) for p in parts) if isinstance(s, tuple))

    res = deref(node.get("/Resources", {}))

    def font_metrics(fonts: dict, cache: dict, name) -> tuple:
        """Resolved font info: ("simple", /FirstChar, /Widths-or-None) for
        byte-coded fonts (None widths = fixed ADVANCE fallback), or
        ("type0", /DW, cid->width, cid->unicode) for composite Identity-H
        fonts (the layout every real-world subset-embedded font uses)."""
        if name not in cache:
            fd = deref(fonts.get(name))
            info: tuple = ("simple", 0, None, None)
            if isinstance(fd, dict) \
                    and deref(fd.get("/Subtype")) == "/Type0":
                desc = deref(fd.get("/DescendantFonts")) or []
                d0 = deref(desc[0]) if desc else {}
                if not isinstance(d0, dict):
                    d0 = {}
                dw = float(deref(d0.get("/DW", 1000)))
                wmap = _cid_widths(deref(d0.get("/W")), deref)
                cmap: dict[int, str] = {}
                tu = deref(fd.get("/ToUnicode"))
                if isinstance(tu, tuple) and tu[0] == "stream":
                    cmap = _parse_tounicode(
                        _apply_filters(tu[1], tu[2], deref))
                info = ("type0", dw, wmap, cmap)
            elif isinstance(fd, dict) and "/Widths" in fd:
                first = int(deref(fd.get("/FirstChar", 0)))
                w = [float(deref(v)) for v in deref(fd["/Widths"])]
                emap = _simple_encoding(deref(fd.get("/Encoding")), deref)
                info = ("simple", first, w, emap)
            elif isinstance(fd, dict):
                emap = _simple_encoding(deref(fd.get("/Encoding")), deref)
                info = ("simple", 0, None, emap)
            cache[name] = info
        return cache[name]

    def run(stream: bytes, res: dict, ctm0: tuple, depth: int) -> None:
        """Execute one content stream (the page's, or a Form XObject's
        body under its /Matrix-adjusted CTM) appending to page.items."""
        xobjects = deref(res.get("/XObject", {}))
        fonts = deref(res.get("/Font", {}))
        metric_cache: dict[str, tuple] = {}

        ctm_stack: list[tuple] = []
        ctm = ctm0
        size, leading = 12.0, 0.0
        tc, tw, th, rise = 0.0, 0.0, 1.0, 0.0   # Tc / Tw / Tz/100 / Ts
        cur_font: tuple = ("simple", 0, None, None)
        tlm = _ID               # text line matrix (Tm/Td/T*)
        cx = 0.0                # pen advance along the text-space x axis
        in_text = False

        def emit(txt: bytes) -> None:
            nonlocal cx
            # full text matrix: glyphs place through Tlm ∘ CTM, so
            # rotated-Tm text on a /Rotate page composes back to upright
            m = _mat_mul(tlm, ctm)
            tx = cx * m[0] + rise * m[2] + m[4]
            ty = cx * m[1] + rise * m[3] + m[5]
            ax = float(np.hypot(m[0], m[1]))     # display units per text x
            disp_size = size * float(np.hypot(m[2], m[3]))
            # cumulative per-char advance (display units): exact word
            # geometry for proportional fonts, ADVANCE fallback. Advance
            # formula (ISO 32000 §9.4.4): (w0*Tfs + Tc + Tw) * Th, Tw
            # applying to byte-32 spaces of simple fonts only
            cum = [0.0]
            total = 0.0
            if cur_font[0] == "type0":
                # 2-byte Identity-H CIDs -> unicode via /ToUnicode, widths
                # via the descendant font's /W (default /DW)
                _, dw, wmap, cmap = cur_font
                chars: list[str] = []
                for i in range(0, len(txt) - len(txt) % 2, 2):
                    cid = (txt[i] << 8) | txt[i + 1]
                    mapped = cmap.get(cid, "�")
                    adv = (wmap.get(cid, dw) / 1000.0 * size + tc) * th
                    total += adv
                    for j, ch in enumerate(mapped):
                        chars.append(ch)
                        # a multi-char target (ligature) carries the whole
                        # advance on its last unit
                        cum.append(cum[-1]
                                   + (adv * ax if j == len(mapped) - 1
                                      else 0.0))
                s = "".join(chars)
            else:
                _, first_char, char_widths, emap = cur_font
                s = txt.decode("latin-1")
                if emap:
                    # /Differences + WinAnsi overrides map byte codes to
                    # text; widths stay indexed by the BYTE code
                    s = "".join(emap.get(b, chr(b)) for b in txt)
                for code, ch in zip(txt, s):
                    idx = code - first_char
                    w = (char_widths[idx] / 1000.0
                         if char_widths is not None
                         and 0 <= idx < len(char_widths) else ADVANCE)
                    adv = (w * size + tc + (tw if ch == " " else 0.0)) * th
                    total += adv
                    cum.append(cum[-1] + adv * ax)
            page.items.append(("text", tx, ty, disp_size, s, cum))
            cx += total

        def place_image(arr: np.ndarray) -> None:
            # unit square through the CTM (axis-aligned)
            xs = [ctm[4], ctm[0] + ctm[2] + ctm[4]]
            ys = [ctm[5], ctm[1] + ctm[3] + ctm[5]]
            left, right = min(xs), max(xs)
            bot, top = min(ys), max(ys)
            a, b_, c_, d_ = ctm[0], ctm[1], ctm[2], ctm[3]
            if abs(a) >= abs(b_):
                if a < 0 and d_ < 0:            # 180° display rotation
                    arr = np.rot90(arr, 2)
            elif b_ < 0 and c_ > 0:             # 90° clockwise display
                arr = np.rot90(arr, -1)
            elif b_ > 0 and c_ < 0:             # 90° counter-clockwise
                arr = np.rot90(arr, 1)
            page.items.append(("image", arr,
                               int(round(left)), int(round(ph - top)),
                               int(round(right)), int(round(ph - bot))))

        def inline_image(lx: _Lexer) -> None:
            """BI ... ID <binary> EI (ISO 32000 §8.9.7): abbreviated keys,
            binary length computed for unfiltered data, EI-scan for
            filtered. Placed like an image XObject."""
            pairs: list = []
            while True:
                lx._ws()
                if lx.i >= len(lx.d):
                    raise ValueError("PDF inline image: unterminated")
                c = lx.d[lx.i:lx.i + 1]
                if c in b"(<[/" or c.isdigit() or c in b"+-.":
                    pairs.append(lx.value())
                    continue
                tok = lx.token()
                if tok == b"ID":
                    break
                if not tok:
                    lx.i += 1               # stray delimiter: skip
                    continue
                pairs.append(tok == b"true")
            abbrev = {"/W": "/Width", "/H": "/Height",
                      "/BPC": "/BitsPerComponent", "/CS": "/ColorSpace",
                      "/F": "/Filter", "/DP": "/DecodeParms",
                      "/G": "/DeviceGray", "/RGB": "/DeviceRGB",
                      "/IM": "/ImageMask", "/D": "/Decode"}
            norm = lambda v: abbrev.get(v, v) if isinstance(v, str) else v  # noqa: E731
            d = {norm(k): (norm(v) if not isinstance(v, list)
                           else [norm(x) for x in v])
                 for k, v in zip(pairs[::2], pairs[1::2])}
            lx.i += 1                      # single whitespace byte after ID
            if "/Filter" in d and d["/Filter"] is not None:
                at = lx.i
                while True:               # ws + "EI" + (ws | EOF)
                    at = lx.d.find(b"EI", at)
                    if at < 0:
                        raise ValueError("PDF inline image: no EI")
                    if lx.d[at - 1:at] in _WS and (
                            at + 2 >= len(lx.d)
                            or lx.d[at + 2:at + 3] in _WS):
                        break
                    at += 2
                raw = lx.d[lx.i:at - 1]
                lx.i = at + 2
            else:
                w_ = int(deref(d["/Width"]))
                h_ = int(deref(d["/Height"]))
                ncomp = 3 if d.get("/ColorSpace") == "/DeviceRGB" else 1
                bpc = int(deref(d.get("/BitsPerComponent", 8)))
                nbytes = h_ * ((w_ * ncomp * bpc + 7) // 8)
                raw = lx.d[lx.i:lx.i + nbytes]
                lx.i += nbytes
                lx._ws()
                if lx.token() != b"EI":
                    raise ValueError("PDF inline image: EI expected")
            place_image(_decode_image(d, raw, deref))

        lx = _Lexer(stream)
        stack: list = []
        while lx.i < len(stream):
            lx._ws()
            if lx.i >= len(stream):
                break
            c = stream[lx.i:lx.i + 1]
            if c in b"(<[/" or c.isdigit() or c in b"+-.":
                stack.append(lx.value())
                continue
            op = lx.token()
            if not op:
                # token() stops without advancing on a stray delimiter byte
                # ()]>{} — corrupt streams would otherwise spin this loop
                # forever inside an executor task (found by the fuzz test)
                lx.i += 1
                continue
            if op == b"BT":
                in_text, tlm, cx = True, _ID, 0.0
            elif op == b"ET":
                in_text = False
            elif op == b"Tf" and len(stack) >= 2:
                size = float(stack[-1])
                cur_font = font_metrics(fonts, metric_cache, stack[-2])
            elif op == b"TL" and stack:
                leading = float(stack[-1])
            elif op == b"Tc" and stack:
                tc = float(stack[-1])
            elif op == b"Tw" and stack:
                tw = float(stack[-1])
            elif op == b"Tz" and stack:
                th = float(stack[-1]) / 100.0
            elif op == b"Ts" and stack:
                rise = float(stack[-1])
            elif op == b"BI":
                inline_image(lx)
            elif op in (b"Td", b"TD") and len(stack) >= 2:
                tlm = _mat_mul((1.0, 0.0, 0.0, 1.0,
                                float(stack[-2]), float(stack[-1])), tlm)
                cx = 0.0
                if op == b"TD":
                    leading = -float(stack[-1])
            elif op == b"Tm" and len(stack) >= 6:
                tlm = tuple(float(v) for v in stack[-6:])
                cx = 0.0
            elif op == b"T*":
                tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -leading), tlm)
                cx = 0.0
            elif op == b"Tj" and stack and in_text:
                emit(stack[-1])
            elif op == b"'" and stack and in_text:
                tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -leading), tlm)
                cx = 0.0
                emit(stack[-1])
            elif op == b'"' and len(stack) >= 3 and in_text:
                tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -leading), tlm)
                cx = 0.0
                emit(stack[-1])
            elif op == b"TJ" and stack and in_text:
                for piece in stack[-1]:
                    if isinstance(piece, bytes):
                        emit(piece)
                    else:
                        cx -= float(piece) / 1000.0 * size * th
            elif op == b"q":
                ctm_stack.append(ctm)
            elif op == b"Q":
                ctm = ctm_stack.pop() if ctm_stack else ctm0
            elif op == b"cm" and len(stack) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
            elif op == b"Do" and stack:
                xo = deref(xobjects.get(stack[-1]))
                if isinstance(xo, tuple) and xo[0] == "stream":
                    sub = deref(xo[1].get("/Subtype"))
                    if sub == "/Image":
                        place_image(_decode_image(xo[1], xo[2], deref))
                    elif sub == "/Form":
                        # nested content stream under /Matrix ∘ current
                        # CTM, with its own resources (fallback: ours) —
                        # headers/logos in real PDFs live in forms. Depth
                        # cap: self-referential forms must not recurse
                        # unboundedly inside an executor task
                        if depth >= 8:
                            raise ValueError("PDF form nesting too deep")
                        m = deref(xo[1].get("/Matrix", _ID))
                        fctm = _mat_mul(
                            tuple(float(deref(v)) for v in m), ctm)
                        fres = deref(xo[1].get("/Resources", res))
                        run(_apply_filters(xo[1], xo[2], deref),
                            fres if isinstance(fres, dict) else res,
                            fctm, depth + 1)
            stack.clear()

    run(stream, res, base, 0)
    return page


# ------------------------------------------------- born-digital block layer


def _xy_order(boxes: list[tuple]) -> list[int]:
    """Recursive XY-cut reading order over (l, t, r, b) boxes — the W2
    analog for the born-digital path: split at any clean full-width
    horizontal gap first (top before bottom), else at a clean full-height
    vertical gap (left column before right), else fall back to (top,
    left). Handles header-over-two-columns layouts the way the raster
    kernel's column sort does."""
    order: list[int] = []

    def rec(ids: list[int]) -> None:
        if len(ids) <= 1:
            order.extend(ids)
            return
        by_top = sorted(ids, key=lambda i: (boxes[i][1], boxes[i][0]))
        reach = boxes[by_top[0]][3]
        for k in range(1, len(by_top)):
            if boxes[by_top[k]][1] >= reach:
                rec(by_top[:k])
                rec(by_top[k:])
                return
            reach = max(reach, boxes[by_top[k]][3])
        by_left = sorted(ids, key=lambda i: (boxes[i][0], boxes[i][1]))
        reach = boxes[by_left[0]][2]
        for k in range(1, len(by_left)):
            if boxes[by_left[k]][0] >= reach:
                rec(by_left[:k])
                rec(by_left[k:])
                return
            reach = max(reach, boxes[by_left[k]][2])
        order.extend(by_top)

    rec(list(range(len(boxes))))
    return order


def blocks_from_pdf_page(page: PdfPage, crop=None) -> list:
    """Group a born-digital page's text runs into layout blocks — the PDF
    analog of the raster kernel's output, same Block contract (top-down
    integer geometry, flowing_text with \\n-joined lines, per-word boxes)
    so every downstream renderer and hierarchy query works unchanged.

    Layout parse, not just a y-sort: runs sharing a baseline merge while
    their x-gap stays under 1.5 em and SPLIT into separate fragments at a
    wider gap (a column gutter), fragments chain into blocks only when
    they x-overlap the block by half the narrower width within 1.8 em of
    leading (so side-by-side columns become separate blocks), and final
    reading order is a recursive XY-cut. Word boxes use the fixed-advance
    metric (ADVANCE em — exact for the Courier-class fonts this parser
    scopes to). Confidence is 100: born-digital text has no decode
    uncertainty. `crop` (l, t, r, b, top-down) keeps intersecting blocks
    only — the SetRectangle analog for the non-raster path."""
    from ..operators.page import Block

    H = page.height
    lines: dict[float, list] = {}
    for it in page.items:
        if it[0] != "text":
            continue
        _, x, y, size, txt, cum = it
        if not txt.strip():
            continue
        # runs entirely outside the page box are invisible (content beyond
        # the /CropBox, or placed off-page): drop them like a viewer does
        if (y + size < 0 or y - size > H
                or x + cum[-1] < 0 or x > page.width):
            continue
        lines.setdefault(round(y, 1), []).append((x, size, txt, cum))

    # baseline runs → line fragments (split at column gutters)
    frags: list[dict] = []
    for y, runs in lines.items():
        runs.sort(key=lambda r: r[0])
        cur: dict | None = None
        for x, rsize, txt, cum in runs:
            right = x + cum[-1]
            if cur is not None and x - cur["right"] <= 1.5 * cur["size"]:
                cur["runs"].append((x, rsize, txt, cum))
                cur["right"] = max(cur["right"], right)
                cur["size"] = max(cur["size"], rsize)
            else:
                cur = dict(y=y, left=x, right=right, size=rsize,
                           runs=[(x, rsize, txt, cum)])
                frags.append(cur)
    frags.sort(key=lambda f: (-f["y"], f["left"]))

    # fragments → blocks: x-overlap chains within 1.8 em of leading
    groups: list[dict] = []
    for f in frags:
        best, best_ov = None, 0.0
        for g in groups:
            last = g["frags"][-1]
            if not 0 < last["y"] - f["y"] <= 1.8 * last["size"]:
                continue
            ov = min(g["right"], f["right"]) - max(g["left"], f["left"])
            need = 0.5 * min(g["right"] - g["left"], f["right"] - f["left"])
            if ov >= need and ov > best_ov:
                best, best_ov = g, ov
        if best is None:
            groups.append(dict(frags=[f], left=f["left"], right=f["right"]))
        else:
            best["frags"].append(f)
            best["left"] = min(best["left"], f["left"])
            best["right"] = max(best["right"], f["right"])

    blocks = []
    for grp in groups:
        text_lines, words = [], []
        top_min, bot_max = float("inf"), float("-inf")
        for lnum, f in enumerate(grp["frags"]):
            top = H - f["y"] - 0.75 * f["size"]
            bottom = H - f["y"] + 0.25 * f["size"]
            top_min, bot_max = min(top_min, top), max(bot_max, bottom)
            # per-line typography (lmeta, _attach_words contract): the PDF
            # baseline is EXACT — the Td/Tm y in image coords — and the
            # box reserves 0.25em of descender space below it; x_size is
            # the font size, slope 0 on unrotated text
            lmeta = (int(round(f["size"])), 0.0,
                     int(round(H - f["y"])) - int(round(bottom)))
            parts = []
            wnum = 0
            for x, _rsize, txt, cum in f["runs"]:
                parts.append(txt)
                i = 0
                while i < len(txt):
                    if txt[i] == " ":
                        i += 1
                        continue
                    j = i
                    while j < len(txt) and txt[j] != " ":
                        j += 1
                    # per-symbol boxes from the same cumulative advance
                    # table (char k spans cum[k]..cum[k+1]) — born-digital
                    # metrics are exact, so symbol conf is 100 like words
                    syms = tuple(
                        (txt[k], int(round(x + cum[k])), int(round(top)),
                         int(round(x + cum[k + 1])), int(round(bottom)), 100)
                        for k in range(i, j))
                    words.append((0, lnum, wnum, txt[i:j],
                                  int(round(x + cum[i])),
                                  int(round(top)),
                                  int(round(x + cum[j])),
                                  int(round(bottom)), 100, syms, lmeta))
                    wnum += 1
                    i = j
            text_lines.append(" ".join(parts))
        blocks.append(Block(
            order=0, kind="flowing_text", text="\n".join(text_lines),
            left=int(round(grp["left"])), top=int(round(top_min)),
            right=int(round(grp["right"])), bottom=int(round(bot_max)),
            words=words))

    has_text = any(b.kind == "flowing_text" for b in blocks)
    for it in page.items:
        if it[0] == "image":
            _, _arr, left, top, right, bottom = it
            # searchable-PDF backdrop: a near-full-page image UNDER a text
            # layer is the scan the text was OCRed from (the exact shape
            # the reference's own pdfrenderer.cpp writes — invisible text
            # over the page image). The text layer is the content; the
            # backdrop would only duplicate it as pixels.
            area = max(0, right - left) * max(0, bottom - top)
            if has_text and area >= 0.9 * page.width * page.height:
                continue
            blocks.append(Block(order=0, kind="flowing_image", text=None,
                                left=left, top=top, right=right,
                                bottom=bottom))

    if crop is not None:
        cl, ct, cr, cb = crop
        blocks = [b for b in blocks
                  if b.left < cr and b.right > cl
                  and b.top < cb and b.bottom > ct]

    idx = _xy_order([(b.left, b.top, b.right, b.bottom) for b in blocks])
    return [Block(order=i, kind=blocks[j].kind, text=blocks[j].text,
                  left=blocks[j].left, top=blocks[j].top,
                  right=blocks[j].right, bottom=blocks[j].bottom,
                  words=blocks[j].words)
            for i, j in enumerate(idx)]
