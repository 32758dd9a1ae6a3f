"""functions/pdf.py — writer/parser roundtrip, operator coverage, the
born-digital block layer, and the named out-of-scope seams."""

import numpy as np
import pytest

from sparkstract.fixtures.encoders.pdf import encode_simple_pdf
from sparkstract.functions.pdf import blocks_from_pdf_page, parse_pdf


def _text_page(lines, x=72, y0=700, size=12, leading=16):
    return [("text", x, y0 - leading * i, size, ln)
            for i, ln in enumerate(lines)]


def test_roundtrip_text_and_escapes():
    tricky = r"parens (nested (deep)) and \ backslash"
    pdf = encode_simple_pdf([_text_page(["HELLO WORLD", tricky])])
    (page,) = parse_pdf(pdf)
    assert page.has_text
    texts = [it[4] for it in page.items if it[0] == "text"]
    assert texts == ["HELLO WORLD", tricky]


def test_roundtrip_uncompressed_stream():
    pdf = encode_simple_pdf([_text_page(["PLAIN"])], compress=False)
    assert b"FlateDecode" not in pdf.split(b"stream")[0] or True
    (page,) = parse_pdf(pdf)
    assert [it[4] for it in page.items if it[0] == "text"] == ["PLAIN"]


def test_multipage_order():
    pdf = encode_simple_pdf([_text_page(["PAGE ONE"]),
                             _text_page(["PAGE TWO"])])
    pages = parse_pdf(pdf)
    assert [p.items[0][4] for p in pages] == ["PAGE ONE", "PAGE TWO"]


def test_image_xobject_flate_roundtrip():
    arr = (np.outer(np.arange(15), np.arange(25)) % 251).astype(np.uint8)
    pdf = encode_simple_pdf([[("image", arr, 30, 40)]])
    (page,) = parse_pdf(pdf)
    assert not page.has_text
    (_, got, left, top, right, bottom) = page.items[0]
    assert (got == arr).all()
    # natural size at (30, 40) bottom-up on a 792-tall page
    assert (left, right) == (30, 55)
    assert (top, bottom) == (792 - 40 - 15, 792 - 40)


def test_image_xobject_dct_roundtrip():
    from sparkstract.fixtures.encoders.jpeg import encode_gray_jpeg
    from sparkstract.functions.jpeg import decode_gray_jpeg

    arr = (np.outer(np.arange(16), np.arange(16)) % 251).astype(np.uint8)
    pdf = encode_simple_pdf([[("jpeg", arr, 0, 0, 95)]])
    (page,) = parse_pdf(pdf)
    want = decode_gray_jpeg(encode_gray_jpeg(arr, quality=95))
    assert (page.items[0][1] == want).all()


def test_tj_kerning_and_tstar():
    """Hand-written content stream: TJ array with kerning + T* line walk."""
    import zlib

    content = (b"BT /F1 10 Tf 20 TL 50 500 Td "
               b"[(AB) -500 (CD)] TJ T* (NEXT) Tj ET")
    pdf = _raw_pdf(zlib.compress(content), flate=True)
    (page,) = parse_pdf(pdf)
    texts = [(it[4], round(it[1], 1), round(it[2], 1)) for it in page.items]
    # AB at x=50; CD advanced 2 chars (12.0) plus +5.0 kerning (=-(-500)/1000*10)
    assert texts[0] == ("AB", 50.0, 500.0)
    assert texts[1] == ("CD", 50.0 + 2 * 6.0 + 5.0, 500.0)
    assert texts[2] == ("NEXT", 50.0, 480.0)  # T* drops one 20pt leading


def _raw_pdf(content: bytes, flate: bool = False) -> bytes:
    """Minimal hand-rolled single-page PDF around a given content stream."""
    filt = b"/Filter /FlateDecode " if flate else b""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< " + filt + b"/Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = [0]
    for i, body in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for i in range(1, len(objs) + 1):
        out += f"{offs[i]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(out)


def test_incremental_update_newest_object_wins():
    """An appended xref section with /Prev: the update's object offset
    must shadow the original (first-seen-wins over the Prev chain)."""
    base = encode_simple_pdf([_text_page(["ORIGINAL"])], compress=False)
    # find the content object number by locating the stream with the text
    at = base.find(b"(ORIGINAL)")
    objstart = base.rfind(b" 0 obj", 0, at)
    num = int(base[base.rfind(b"\n", 0, objstart) + 1:objstart])
    startxref_at = base.rfind(b"startxref")
    old_xref = int(base[startxref_at + 9:].split()[0])
    upd = b"BT /F1 12 Tf 72 700 Td (UPDATED) Tj ET"
    add = bytearray()
    new_off = len(base)
    add += (f"{num} 0 obj\n<< /Length {len(upd)} >>\nstream\n".encode()
            + upd + b"\nendstream\nendobj\n")
    xref_at = len(base) + len(add)
    add += (f"xref\n{num} 1\n{new_off:010d} 00000 n \n"
            f"trailer\n<< /Size 99 /Root 1 0 R /Prev {old_xref} >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    (page,) = parse_pdf(base + bytes(add))
    assert [it[4] for it in page.items] == ["UPDATED"]


def test_broken_encrypt_dict_raises_named():
    # RC4 empty-user-password files now DECRYPT (tests/test_pdfcrypt.py);
    # an /Encrypt pointing at a missing object must still fail loudly,
    # never fall through to parsing ciphertext as plaintext
    base = encode_simple_pdf([_text_page(["X"])])
    at = base.rfind(b"/Root")
    patched = base[:at] + b"/Encrypt 9 0 R /Root" + base[at + 5:]
    # trailer byte offsets unchanged past the trailer dict? they are —
    # startxref points BEFORE the trailer; only the trailer text grew
    with pytest.raises(ValueError, match="missing from xref"):
        parse_pdf(patched)


def test_garbage_at_startxref_raises():
    base = bytearray(encode_simple_pdf([_text_page(["X"])]))
    at = base.find(b"xref\n", base.rfind(b"endobj"))
    base[at:at + 4] = b"XREF"  # neither a classic table nor an xref stream
    with pytest.raises(ValueError):
        parse_pdf(bytes(base))


def test_modern_layout_objstm_and_xref_stream():
    """1.5+ layout (ObjStm + predictor-12 xref stream) must parse to the
    same pages as the classic layout of the same document."""
    arr = (np.outer(np.arange(12), np.arange(18)) % 241).astype(np.uint8)
    els = [_text_page(["MODERN LAYOUT LINE", "SECOND LINE"])
           + [("image", arr, 72, 400)]]
    classic = parse_pdf(encode_simple_pdf(els))
    modern_pdf = encode_simple_pdf(els, modern=True)
    assert b"/ObjStm" in modern_pdf and b"/XRef" in modern_pdf
    assert b"\ntrailer\n" not in modern_pdf
    modern = parse_pdf(modern_pdf)
    assert len(modern) == len(classic) == 1
    for a, b in zip(classic[0].items, modern[0].items):
        if a[0] == "text":
            assert a == b
        else:
            assert (a[1] == b[1]).all() and a[2:] == b[2:]


def test_modern_blocks_match_classic():
    els = [_text_page(["Alpha Beta Gamma", "Delta Epsilon"])]
    a = blocks_from_pdf_page(parse_pdf(encode_simple_pdf(els))[0])
    b = blocks_from_pdf_page(
        parse_pdf(encode_simple_pdf(els, modern=True))[0])
    assert [x.text for x in a] == [x.text for x in b]
    assert a[0].words == b[0].words


def test_modern_fuzz_never_hangs():
    rng = np.random.default_rng(19)
    base = bytearray(encode_simple_pdf(
        [_text_page(["FUZZ MODERN TARGET"])], modern=True))
    for _ in range(1200):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 10))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            for pg in parse_pdf(bytes(enc)):
                blocks_from_pdf_page(pg)
        except Exception:
            pass


def test_lzw_filter_and_tiff_predictor():
    """/LZWDecode (default /EarlyChange 1) + /DecodeParms
    /Predictor 2 on a content stream."""
    from sparkstract.functions.bits import lzw_encode

    cs = b"BT /F0 12 Tf 72 700 Td (LZW CONTENT) Tj ET"
    # predictor 2: horizontal differencing over Columns-wide rows
    cols = len(cs)
    diff = bytearray(cs)
    for i in range(len(cs) - 1, 0, -1):
        diff[i] = (diff[i] - diff[i - 1]) & 0xFF
    enc = lzw_encode(bytes(diff), early=1)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        (f"<< /Length {len(enc)} /Filter /LZWDecode /DecodeParms "
         f"<< /Predictor 2 /Columns {cols} >> >>\nstream\n").encode()
        + enc + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = [0]
    for i, body in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for i in range(1, len(objs) + 1):
        out += f"{offs[i]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    (page,) = parse_pdf(bytes(out))
    assert [it[4] for it in page.items if it[0] == "text"] == ["LZW CONTENT"]


def test_blocks_grouping_and_words():
    lines1 = ["Alpha Beta Gamma", "Delta Epsilon"]
    lines2 = ["Far Below"]
    els = _text_page(lines1) + _text_page(lines2, y0=400)
    (page,) = parse_pdf(encode_simple_pdf([els]))
    blocks = blocks_from_pdf_page(page)
    assert [b.text for b in blocks] == ["\n".join(lines1), "\n".join(lines2)]
    assert [b.order for b in blocks] == [0, 1]
    b0 = blocks[0]
    words = [w[3] for w in b0.words]
    assert words == ["Alpha", "Beta", "Gamma", "Delta", "Epsilon"]
    # Courier metric: "Beta" starts after "Alpha " = 6 chars * 0.6 * 12pt
    w_beta = [w for w in b0.words if w[3] == "Beta"][0]
    assert w_beta[4] == 72 + round(6 * 0.6 * 12)
    assert all(w[8] == 100 for w in b0.words)  # born-digital confidence
    # line numbering: Delta/Epsilon on line 1
    assert [w[1] for w in b0.words] == [0, 0, 0, 1, 1]


def test_blocks_crop_filters():
    els = _text_page(["KEEP ME"]) + _text_page(["DROP ME"], y0=300)
    (page,) = parse_pdf(encode_simple_pdf([els]))
    # crop: top-down box around the first line only (top ~83)
    blocks = blocks_from_pdf_page(page, crop=(0, 0, 612, 200))
    assert [b.text for b in blocks] == ["KEEP ME"]


def test_mixed_page_reading_order():
    arr = np.full((50, 80), 90, dtype=np.uint8)
    els = (_text_page(["TOP TEXT"])            # top ~ 83
           + [("image", arr, 72, 500)]          # top = 792-550 = 242
           + _text_page(["BOTTOM TEXT"], y0=300))  # top ~ 483
    (page,) = parse_pdf(encode_simple_pdf([els]))
    blocks = blocks_from_pdf_page(page)
    assert [(b.kind, b.text) for b in blocks] == [
        ("flowing_text", "TOP TEXT"),
        ("flowing_image", None),
        ("flowing_text", "BOTTOM TEXT"),
    ]


def test_corrupt_pdf_is_decode_error_span(spark):
    """Pipeline integration: broken PDF bytes become a decode_error span,
    not a task failure (corrupt media is data)."""
    from sparkstract.fixtures.gen import DOCS_SCHEMA, MEDIA_SCHEMA
    from sparkstract.plans.pipeline import extract

    docs = spark.createDataFrame(
        [("d-bad", [{"kind": "media", "text": None,
                     "media_ref": "m-bad", "offset": 0}])], DOCS_SCHEMA)
    media = spark.createDataFrame(
        [("m-bad", 10, 10, bytearray(b"%PDF-1.4\ngarbage, no xref"))],
        MEDIA_SCHEMA)
    rows = extract(spark, docs, media).collect()
    assert len(rows) == 1 and rows[0]["kind"] == "decode_error"


def test_two_column_layout_parse():
    """Same-baseline columns must split at the gutter and read in XY-cut
    order: header, left column (both lines), right column."""
    head = [("text", 72, 740, 12, "WIDE HEADER OVER BOTH COLUMNS")]
    left = [("text", 72, 700 - 16 * i, 12, t)
            for i, t in enumerate(["Left one", "Left two"])]
    right = [("text", 340, 700 - 16 * i, 12, t)
             for i, t in enumerate(["Right one", "Right two"])]
    (page,) = parse_pdf(encode_simple_pdf([head + left + right]))
    blocks = blocks_from_pdf_page(page)
    assert [b.text for b in blocks] == [
        "WIDE HEADER OVER BOTH COLUMNS",
        "Left one\nLeft two",
        "Right one\nRight two",
    ]


def test_kerned_runs_stay_one_fragment():
    """Adjacent TJ runs (kerning-sized gaps) must NOT split at the
    gutter threshold."""
    import zlib

    content = b"BT /F1 10 Tf 50 500 Td [(AB) -500 (CD)] TJ ET"
    pdf = _raw_pdf(zlib.compress(content), flate=True)
    (page,) = parse_pdf(pdf)
    blocks = blocks_from_pdf_page(page)
    assert len(blocks) == 1 and blocks[0].text == "AB CD"


def test_proportional_widths_word_geometry():
    """/FirstChar+/Widths metrics: word boxes and line advance must follow
    the per-char table, not the fixed-advance fallback."""
    widths = {"I": 300, "W": 900}  # everything else 600
    pdf = encode_simple_pdf([_text_page(["II WW II"])], widths=widths)
    (page,) = parse_pdf(pdf)
    (b,) = blocks_from_pdf_page(page)
    assert [t for _, _, _, t, *_ in b.words] == ["II", "WW", "II"]
    boxes = [(x[4], x[6]) for x in b.words]
    # II: 2*300/1000*12 = 7.2 wide from x=72
    assert boxes[0] == (72, 79)
    # space 600 → WW starts at 72+7.2+7.2=86.4, 2*900/1000*12=21.6 wide
    assert boxes[1] == (86, 108)
    # trailing II after another 600 space: 108 + 7.2 → 115.2..122.4
    assert boxes[2] == (115, 122)


def test_widths_default_matches_courier_fallback():
    """A /Widths table of all 600s must produce byte-identical geometry to
    the no-table Courier fallback (the ADVANCE constant is 0.6 em)."""
    plain = encode_simple_pdf([_text_page(["SAME BOXES HERE"])])
    tabled = encode_simple_pdf([_text_page(["SAME BOXES HERE"])], widths={})
    (a,) = blocks_from_pdf_page(parse_pdf(plain)[0])
    (b,) = blocks_from_pdf_page(parse_pdf(tabled)[0])
    assert a.words == b.words and (a.left, a.right) == (b.left, b.right)


def test_self_referential_object_raises_not_hangs():
    """`4 0 obj 4 0 R endobj` as the /Contents: the deref hop cap must
    raise instead of spinning forever inside an executor task."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>",
        b"4 0 R",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = [0]
    for i, body in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for i in range(1, len(objs) + 1):
        out += f"{offs[i]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    with pytest.raises(ValueError, match="too deep or cyclic"):
        parse_pdf(bytes(out))


def test_fuzz_corrupt_pdf_never_hangs():
    """Random byte mutations of a valid PDF: every outcome is either a
    clean parse or an exception (corrupt media is data, not a bug) —
    never a hang or interpreter crash. Mirrors test_jpeg's fuzz."""
    rng = np.random.default_rng(17)
    arr = np.full((8, 8), 77, dtype=np.uint8)
    base = bytearray(encode_simple_pdf(
        [_text_page(["FUZZ TARGET LINE", "SECOND LINE"])
         + [("image", arr, 72, 500)]]))
    for _ in range(1500):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 10))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            pages = parse_pdf(bytes(enc))
            for pg in pages:
                blocks_from_pdf_page(pg)
        except Exception:
            pass


# ------------------------------------------------------- stream filters


def _a85_encode(raw: bytes) -> bytes:
    import struct
    out = bytearray()
    for k in range(0, len(raw), 4):
        grp = raw[k:k + 4]
        pad = 4 - len(grp)
        (v,) = struct.unpack(">I", grp + b"\x00" * pad)
        digs = []
        for _ in range(5):
            digs.append(v % 85)
            v //= 85
        out += bytes(33 + d for d in reversed(digs))[:5 - pad]
    return bytes(out) + b"~>"


def test_filter_units_roundtrip():
    from sparkstract.functions.pdf import (_ascii85_decode,
                                           _ascii_hex_decode, _rle_decode)
    from sparkstract.fixtures.encoders.tiff import _packbits_encode

    rng = np.random.default_rng(9)
    for n in (0, 1, 3, 4, 5, 100, 1023):
        raw = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        assert _ascii85_decode(_a85_encode(raw)) == raw
        assert _ascii_hex_decode(raw.hex().encode() + b">") == raw
        assert _rle_decode(_packbits_encode(raw) + b"\x80") == raw
    # the z shorthand and whitespace tolerance
    assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    assert _ascii_hex_decode(b"48 65\n6C6C 6F>") == b"Hello"


def _manual_pdf(content: bytes, filt: str, extra_objs: list[bytes] = (),
                resources: bytes = b"") -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        + resources + b" /Contents 4 0 R >>",
        f"<< /Length {len(content)} /Filter {filt} >>\nstream\n".encode()
        + content + b"\nendstream",
        *extra_objs,
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = [0]
    for i, body in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for i in range(1, len(objs) + 1):
        out += f"{offs[i]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(out)


def test_content_stream_ascii85_and_chain():
    import zlib
    cs = b"BT /F0 12 Tf 72 700 Td (FILTERED LINE) Tj ET"
    pdf = _manual_pdf(_a85_encode(cs), "/ASCII85Decode")
    (page,) = parse_pdf(pdf)
    assert [it[4] for it in page.items if it[0] == "text"] == ["FILTERED LINE"]
    # chain: Flate THEN ASCII85 on the wire → decode A85 first, then Flate
    pdf = _manual_pdf(_a85_encode(zlib.compress(cs)),
                      "[/ASCII85Decode /FlateDecode]")
    (page,) = parse_pdf(pdf)
    assert [it[4] for it in page.items if it[0] == "text"] == ["FILTERED LINE"]


def test_rgb_image_xobject_luma():
    import zlib
    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
    img_obj = (b"<< /Subtype /Image /Width 9 /Height 6 /BitsPerComponent 8"
               b" /ColorSpace /DeviceRGB /Filter /FlateDecode /Length "
               + str(len(zlib.compress(rgb.tobytes()))).encode()
               + b" >>\nstream\n" + zlib.compress(rgb.tobytes())
               + b"\nendstream")
    cs = b"q 9 0 0 6 100 300 cm /Im0 Do Q"
    pdf = _manual_pdf(cs, "null",
                      extra_objs=[img_obj],
                      resources=b"/Resources << /XObject << /Im0 5 0 R >> >>")
    (page,) = parse_pdf(pdf)
    imgs = [it for it in page.items if it[0] == "image"]
    assert len(imgs) == 1
    from sparkstract.functions.raster import luma
    assert (imgs[0][1] == luma(rgb)).all()


# --------------------------------------------------------- Type0/CID fonts


def test_cid_font_text_and_geometry():
    """Identity-H Type0 text (2-byte CIDs + ToUnicode bfrange) must decode
    to the same strings AND word boxes as the simple-font layout (the
    writer's /DW 600 equals the Courier fallback metric)."""
    els = [_text_page(["Alpha Beta Gamma", "Delta Epsilon"])]
    simple = blocks_from_pdf_page(parse_pdf(encode_simple_pdf(els))[0])
    cid = blocks_from_pdf_page(
        parse_pdf(encode_simple_pdf(els, cid_font=True))[0])
    assert [b.text for b in simple] == [b.text for b in cid]
    assert simple[0].words == cid[0].words


def test_cid_font_non_ascii_bfchar():
    """Non-ASCII characters ride bfchar entries (utf-16-be targets)."""
    els = [_text_page(["Café — résumé"])]
    (page,) = parse_pdf(encode_simple_pdf(els, cid_font=True))
    texts = [it[4] for it in page.items if it[0] == "text"]
    assert texts == ["Café — résumé"]


def test_cid_font_modern_combo():
    els = [_text_page(["Modern Cid Combo"])]
    (page,) = parse_pdf(encode_simple_pdf(els, cid_font=True, modern=True))
    assert [it[4] for it in page.items if it[0] == "text"] \
        == ["Modern Cid Combo"]


def test_cid_widths_parse_both_shapes():
    from sparkstract.functions.pdf import _cid_widths

    ident = lambda v: v  # noqa: E731
    w = _cid_widths([65, [500.0, 600.0, 700.0], 100, 102, 250.0], ident)
    assert w == {65: 500.0, 66: 600.0, 67: 700.0,
                 100: 250.0, 101: 250.0, 102: 250.0}
    assert _cid_widths(None, ident) == {}


def test_tounicode_range_increment_and_ligature():
    from sparkstract.functions.pdf import _parse_tounicode

    cm = _parse_tounicode(
        b"2 beginbfchar <0001> <0066006900660066> <0002> <0041>\n"
        b"endbfchar\n"
        b"2 beginbfrange\n"
        b"<0010> <0012> <0061>\n"
        b"<0020> <0021> [<0058> <0059>]\n"
        b"endbfrange\n")
    assert cm[1] == "fiff" and cm[2] == "A"
    assert (cm[0x10], cm[0x11], cm[0x12]) == ("a", "b", "c")
    assert (cm[0x20], cm[0x21]) == ("X", "Y")


def test_cid_w_array_overrides_dw():
    """A descendant /W table drives per-CID advances (word geometry)."""
    pdf = encode_simple_pdf([_text_page(["II WW II"])], cid_font=True,
                            cid_widths={"I": 300, "W": 900})
    (page,) = parse_pdf(pdf)
    (b,) = blocks_from_pdf_page(page)
    assert [t for _, _, _, t, *_ in b.words] == ["II", "WW", "II"]
    boxes = [(x[4], x[6]) for x in b.words]
    assert boxes[0] == (72, 79)        # 2 * 0.3 * 12 = 7.2 wide
    assert boxes[1] == (86, 108)       # starts 72+7.2+7.2, 21.6 wide
    assert boxes[2] == (115, 122)


def test_cid_fuzz_never_hangs():
    rng = np.random.default_rng(23)
    base = bytearray(encode_simple_pdf(
        [_text_page(["CID FUZZ TARGET"])], cid_font=True))
    for _ in range(1000):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 10))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            for pg in parse_pdf(bytes(enc)):
                blocks_from_pdf_page(pg)
        except Exception:
            pass


# ----------------------------------------------------------- Form XObjects


def _form_pdf(form_body: bytes, matrix: str = "1 0 0 1 0 0",
              invoke: bytes = b"q 1 0 0 1 100 500 cm /Fm0 Do Q",
              form_res: bytes = b"/Resources << /Font << /F1 6 0 R >> >>",
              extra: bytes = b"BT /F1 12 Tf 72 700 Td (PAGE TEXT) Tj ET\n"
              ) -> bytes:
    content = extra + invoke
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 6 0 R >> "
        b"/XObject << /Fm0 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        (f"<< /Type /XObject /Subtype /Form /Matrix [{matrix}] "
         f"/BBox [0 0 200 100] ").encode() + form_res
        + b" /Length " + str(len(form_body)).encode() + b" >>\nstream\n"
        + form_body + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = [0]
    for i, body in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for i in range(1, len(objs) + 1):
        out += f"{offs[i]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(out)


def test_form_xobject_text_placed_through_matrix():
    """Form text lands at /Matrix ∘ invocation-CTM: origin (100,500) from
    cm plus (10,20) from the form matrix plus Td (5, 7)."""
    pdf = _form_pdf(b"BT /F1 10 Tf 5 7 Td (FORM TEXT) Tj ET",
                    matrix="1 0 0 1 10 20")
    (page,) = parse_pdf(pdf)
    texts = [(it[4], round(it[1]), round(it[2])) for it in page.items]
    assert ("PAGE TEXT", 72, 700) in texts
    assert ("FORM TEXT", 115, 527) in texts


def test_form_inherits_page_resources_when_absent():
    pdf = _form_pdf(b"BT /F1 9 Tf 0 0 Td (SHARED FONT) Tj ET",
                    form_res=b"")
    (page,) = parse_pdf(pdf)
    assert "SHARED FONT" in [it[4] for it in page.items]


def test_self_referential_form_depth_capped():
    # a form whose body invokes itself: must raise, not recurse forever
    pdf = _form_pdf(b"/Fm0 Do",
                    form_res=b"/Resources << /XObject << /Fm0 5 0 R >> >>")
    with pytest.raises(ValueError, match="nesting too deep"):
        parse_pdf(pdf)


def test_form_fuzz_never_hangs():
    rng = np.random.default_rng(29)
    base = bytearray(_form_pdf(b"BT /F1 10 Tf 5 7 Td (FZ) Tj ET"))
    for _ in range(800):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 8))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            for pg in parse_pdf(bytes(enc)):
                blocks_from_pdf_page(pg)
        except Exception:
            pass


# ----------------------------------- inline images + text-state operators


def test_inline_image_uncompressed_and_filtered():
    import zlib
    rng = np.random.default_rng(51)
    arr = rng.integers(0, 256, (5, 7), dtype=np.uint8)
    raw = arr.tobytes()
    flate = zlib.compress(raw)
    cs = (b"q 7 0 0 5 50 600 cm BI /W 7 /H 5 /BPC 8 /CS /G ID "
          + raw + b" EI Q\n"
          b"q 7 0 0 5 200 600 cm BI /W 7 /H 5 /BPC 8 /CS /G /F /Fl ID "
          + flate + b" EI Q")
    pdf = _raw_pdf(cs)
    (page,) = parse_pdf(pdf)
    imgs = [it for it in page.items if it[0] == "image"]
    assert len(imgs) == 2
    assert (imgs[0][1] == arr).all() and (imgs[1][1] == arr).all()
    assert imgs[0][2] == 50 and imgs[1][2] == 200


def test_inline_rgb_image_luma():
    rng = np.random.default_rng(52)
    rgb = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    cs = (b"q 6 0 0 4 10 100 cm BI /W 6 /H 4 /BPC 8 /CS /RGB ID "
          + rgb.tobytes() + b" EI Q")
    (page,) = parse_pdf(_raw_pdf(cs))
    from sparkstract.functions.raster import luma
    assert (page.items[0][1] == luma(rgb)).all()


def test_char_and_word_spacing_advances():
    """Tc adds to every glyph advance, Tw to byte-32 spaces, Tz scales
    horizontally (ISO 32000 §9.4.4) — word boxes must track all three."""
    cs = (b"BT /F1 10 Tf 2 Tc 5 Tw 50 500 Td (AB CD) Tj ET")
    (page,) = parse_pdf(_raw_pdf(cs))
    (b,) = blocks_from_pdf_page(page)
    words = {w[3]: (w[4], w[6]) for w in b.words}
    # glyph advance = 6.0 + Tc 2 = 8; space = 6 + 2 + 5 = 13
    assert words["AB"] == (50, 66)
    assert words["CD"] == (50 + 16 + 13, 50 + 16 + 13 + 16)
    # Tz 50% halves every advance
    cs = (b"BT /F1 10 Tf 50 Tz 50 500 Td (AB CD) Tj ET")
    (page,) = parse_pdf(_raw_pdf(cs))
    (b,) = blocks_from_pdf_page(page)
    words = {w[3]: (w[4], w[6]) for w in b.words}
    assert words["AB"] == (50, 56)
    assert words["CD"] == (59, 65)


def test_inline_image_fuzz_never_hangs():
    rng = np.random.default_rng(53)
    arr = np.full((5, 7), 80, dtype=np.uint8)
    base = bytearray(_raw_pdf(
        b"q 7 0 0 5 50 600 cm BI /W 7 /H 5 /BPC 8 /CS /G ID "
        + arr.tobytes() + b" EI Q BT /F1 10 Tf (TXT) Tj ET"))
    for _ in range(800):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 8))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            for pg in parse_pdf(bytes(enc)):
                blocks_from_pdf_page(pg)
        except Exception:
            pass


# ---------------------------------------------------------------- /Rotate


def _rotated_pdf(content: bytes, rotate: int, box=(612, 792)) -> bytes:
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {box[0]} {box[1]}] "
         f"/Rotate {rotate} "
         f"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"
         ).encode(),
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = [0]
    for i, body in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for i in range(1, len(objs) + 1):
        out += f"{offs[i]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    return bytes(out)


def test_rotate_90_text_normalizes_upright():
    """A /Rotate 90 page whose text is written with a rotated Tm (so it
    displays upright): the parser must land it upright in the swapped
    display box — same blocks as the equivalent unrotated page."""
    # unrotated reference: portrait 612x792, two lines at (72, 700)/(72, 684)
    ref = (b"BT /F1 12 Tf 72 700 Td (ROTATED PAGE LINE) Tj ET\n"
           b"BT /F1 12 Tf 72 684 Td (SECOND LINE HERE) Tj ET")
    want = blocks_from_pdf_page(parse_pdf(_rotated_pdf(ref, 0))[0])
    # /Rotate 90 on a 792x612 user-space page: display box is 612x792.
    # Display point (x_d, y_d) = (y_u, 792 - x_u) → x_u = 792 - y_d,
    # y_u = x_d. Tm (0,-1,1,0) maps text x-axis to display +x.
    # For display (72, 700): user origin = (92, 72); (72, 684): (108, 72).
    rot = (b"BT /F1 12 Tf 0 -1 1 0 92 72 Tm (ROTATED PAGE LINE) Tj ET\n"
           b"BT /F1 12 Tf 0 -1 1 0 108 72 Tm (SECOND LINE HERE) Tj ET")
    (page,) = parse_pdf(_rotated_pdf(rot, 90, box=(792, 612)))
    assert (page.width, page.height) == (612, 792)
    got = blocks_from_pdf_page(page)
    assert [b.text for b in got] == [b.text for b in want]
    assert got[0].words == want[0].words


def test_rotate_180_text():
    ref = b"BT /F1 12 Tf 72 700 Td (UPSIDE DOWN) Tj ET"
    want = blocks_from_pdf_page(parse_pdf(_rotated_pdf(ref, 0))[0])
    rot = (b"BT /F1 12 Tf -1 0 0 -1 540 92 Tm (UPSIDE DOWN) Tj ET")
    got = blocks_from_pdf_page(parse_pdf(_rotated_pdf(rot, 180))[0])
    assert [b.text for b in got] == [b.text for b in want]
    assert got[0].words == want[0].words


def test_rotate_90_image_pixels_unrotated():
    """A full-page scan wrapped in a /Rotate 90 PDF: the emitted array
    must be the upright pixels (rot90 applied), so the raster-OCR
    fallthrough sees the page as displayed."""
    import zlib
    rng = np.random.default_rng(61)
    arr = rng.integers(0, 256, (10, 14), dtype=np.uint8)
    # stored image is the upright page rotated 90° ccw in user space
    # (the scanner wrote landscape); /Rotate 90 displays it upright
    stored = np.rot90(arr, 1)
    comp = zlib.compress(stored.tobytes())
    content = (b"q 10 0 0 14 0 0 cm BI /W 10 /H 14 /BPC 8 /CS /G /F /Fl ID "
               + comp + b" EI Q")
    (page,) = parse_pdf(_rotated_pdf(content, 90, box=(10, 14)))
    assert (page.width, page.height) == (14, 10)
    imgs = [it for it in page.items if it[0] == "image"]
    assert len(imgs) == 1
    assert (imgs[0][1] == arr).all()


def test_cropbox_clips_page():
    """/CropBox defines the visible region: content outside it drops and
    geometry is crop-relative (the scanner-margin case)."""
    base = encode_simple_pdf(
        [_text_page(["KEEP THIS LINE"]) + _text_page(["CLIP ME"], y0=100)])
    at = base.find(b"/MediaBox [0 0 612 792]")
    patched = (base[:at]
               + b"/MediaBox [0 0 612 792] /CropBox [50 200 612 792]"
               + base[at + len(b"/MediaBox [0 0 612 792]"):])
    # classic xref offsets after this object shift — rebuild instead
    objs_shift = len(b" /CropBox [50 200 612 792]")
    # simpler: reparse via startxref fixups is fragile; build manually
    content = b"BT /F1 12 Tf 72 700 Td (KEEP THIS LINE) Tj ET\n" \
              b"BT /F1 12 Tf 72 100 Td (CLIP ME) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/CropBox [50 200 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offs = [0]
    for i, body in enumerate(objs, 1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode() + b"0000000000 65535 f \n"
    for i in range(1, len(objs) + 1):
        out += f"{offs[i]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref}\n%%EOF\n").encode()
    (page,) = parse_pdf(bytes(out))
    assert (page.width, page.height) == (562, 592)
    # KEEP at user (72,700) → crop-relative (22, 500); CLIP at y=100 lies
    # below the crop bottom (y_user 200) and lands off-page
    texts = {it[4]: (round(it[1]), round(it[2])) for it in page.items}
    assert texts["KEEP THIS LINE"] == (22, 500)
    blocks = blocks_from_pdf_page(page)
    assert [b.text for b in blocks] == ["KEEP THIS LINE"]


def test_searchable_pdf_backdrop_suppressed():
    """Invisible-text-over-scan (the reference's own pdfrenderer output
    shape): the near-full-page backdrop image drops; the text layer is
    the content. A SMALL embedded image beside text stays."""
    scan = np.full((792, 612), 200, dtype=np.uint8)
    small = np.full((40, 60), 90, dtype=np.uint8)
    els = [[("image", scan, 0, 0),
            ("text", 72, 700, 12, "OCR LAYER LINE ONE"),
            ("text", 72, 684, 12, "OCR LAYER LINE TWO"),
            ("image", small, 72, 300)]]
    (page,) = parse_pdf(encode_simple_pdf(els))
    blocks = blocks_from_pdf_page(page)
    kinds = [b.kind for b in blocks]
    assert kinds.count("flowing_image") == 1  # only the small figure
    assert [b.text for b in blocks if b.kind == "flowing_text"] \
        == ["OCR LAYER LINE ONE\nOCR LAYER LINE TWO"]


def test_image_only_full_page_scan_kept():
    """No text layer → the full-page scan is NOT a backdrop; it must
    survive for the raster-OCR fallthrough."""
    scan = np.full((792, 612), 180, dtype=np.uint8)
    (page,) = parse_pdf(encode_simple_pdf([[("image", scan, 0, 0)]]))
    blocks = blocks_from_pdf_page(page)
    assert [b.kind for b in blocks] == ["flowing_image"]


# ------------------------------------------- /CCITTFaxDecode image path


def _ccitt_img():
    rng = np.random.default_rng(21)
    ink = rng.random((40, 64)) < 0.2
    return np.where(ink, 0, 255).astype(np.uint8)


def test_pdf_g4_image_roundtrip_exact():
    img = _ccitt_img()
    data = encode_simple_pdf([[("g4_image", img, 0, 0)]],
                             page_size=(64, 40))
    (page,) = parse_pdf(data)
    got = next(it for it in page.items if it[0] == "image")[1]
    assert (got == img).all()


def test_pdf_g4_image_inside_encrypted_wrap():
    img = _ccitt_img()
    data = encode_simple_pdf([[("g4_image", img, 0, 0)]],
                             page_size=(64, 40), encrypt=True)
    (page,) = parse_pdf(data)
    got = next(it for it in page.items if it[0] == "image")[1]
    assert (got == img).all()


def _decode_image_direct(parms: dict, raw: bytes, w=64, h=40, decode=None):
    from sparkstract.functions.pdf import _decode_image

    d = {"/Width": w, "/Height": h, "/BitsPerComponent": 1,
         "/Filter": "/CCITTFaxDecode", "/DecodeParms": parms}
    if decode is not None:
        d["/Decode"] = decode
    return _decode_image(d, raw, lambda v: v)


def test_pdf_ccitt_k0_unaligned_rows():
    # /K 0 default: 1D rows packed back-to-back, NO EOLs, NO byte
    # alignment (§7.4.6 — EncodedByteAlign false)
    from sparkstract.functions.bits import MsbWriter
    from sparkstract.fixtures.encoders.ccitt import _changes, _emit_run

    img = _ccitt_img()
    bits = (img < 128).astype(np.uint8)
    bw = MsbWriter()
    for y in range(40):
        pos, color = 0, 0
        for nxt in _changes(bits[y]) + [64]:
            _emit_run(bw, nxt - pos, color)
            pos, color = nxt, color ^ 1
            if pos >= 64:
                break
    got = _decode_image_direct({"/K": 0, "/Columns": 64, "/Rows": 40},
                               bw.bytes())
    assert (got == img).all()


def test_pdf_ccitt_k0_with_eol_and_k_positive():
    from sparkstract.functions.bits import MsbWriter
    from sparkstract.fixtures.encoders.ccitt import (
        _EOL, _changes, _emit, _emit_run, g3_encode,
    )

    img = _ccitt_img()
    bits = (img < 128).astype(np.uint8)
    # /K 0 + /EndOfLine: EOL-separated T.4 1D (== TIFF compression 3)
    got = _decode_image_direct(
        {"/K": 0, "/Columns": 64, "/Rows": 40, "/EndOfLine": True},
        g3_encode(bits))
    assert (got == img).all()
    # /K > 0: mixed T.4 2D — every row EOL + tag bit (all tagged 1D here)
    bw = MsbWriter()
    for y in range(40):
        _emit(bw, _EOL)
        _emit(bw, "1")
        pos, color = 0, 0
        for nxt in _changes(bits[y]) + [64]:
            _emit_run(bw, nxt - pos, color)
            pos, color = nxt, color ^ 1
            if pos >= 64:
                break
    got = _decode_image_direct({"/K": 4, "/Columns": 64, "/Rows": 40},
                               bw.bytes())
    assert (got == img).all()


def test_pdf_ccitt_decode_array_inverts():
    from sparkstract.fixtures.encoders.ccitt import g4_encode

    img = _ccitt_img()
    raw = g4_encode((img < 128).astype(np.uint8))
    got = _decode_image_direct({"/K": -1, "/Columns": 64, "/Rows": 40},
                               raw, decode=[1, 0])
    assert (got == 255 - img).all()


def test_pdf_ccitt_byte_align_g4():
    """/EncodedByteAlign with K<0: every row's codes start on a byte
    boundary — the aligned decoder drops the pad bits per row. An
    UNALIGNED decode of the same bytes must fail or mismatch (proving
    the alignment is real, not vacuous)."""
    from sparkstract.fixtures.encoders.ccitt import g4_encode
    from sparkstract.functions.ccitt import g4_decode

    img = _ccitt_img()
    ink = (img < 128).astype(np.uint8)
    raw = g4_encode(ink, align=True)
    got = _decode_image_direct({"/K": -1, "/Columns": 64, "/Rows": 40,
                                "/EncodedByteAlign": True}, raw)
    assert (got == img).all()
    try:
        assert not (g4_decode(raw, 64, 40) == ink).all()
    except ValueError:
        pass


def test_pdf_ccitt_byte_align_k0_mh():
    """/EncodedByteAlign with K=0 selects byte-aligned MH rows (TIFF
    compression-2 layout)."""
    from sparkstract.fixtures.encoders.ccitt import mh_encode

    img = _ccitt_img()
    raw = mh_encode((img < 128).astype(np.uint8))
    got = _decode_image_direct({"/K": 0, "/Columns": 64, "/Rows": 40,
                                "/EncodedByteAlign": True}, raw)
    assert (got == img).all()


# ------------------------------------------------- /Indexed palette images


def _indexed_decode(w, h, bpc, base, hival, lookup, raw):
    from sparkstract.functions.pdf import _decode_image

    d = {"/Width": w, "/Height": h, "/BitsPerComponent": bpc,
         "/ColorSpace": ["/Indexed", base, hival, lookup]}
    return _decode_image(d, raw, lambda v: v)


def test_indexed_8bit_rgb_palette():
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    idx = np.array([[0, 1], [2, 3]], np.uint8)
    out = _indexed_decode(2, 2, 8, "/DeviceRGB", 3, pal, idx.tobytes())
    from sparkstract.functions.raster import luma

    exp = luma(np.frombuffer(pal, np.uint8).reshape(4, 3)[idx])
    assert np.array_equal(out, exp)


def test_indexed_gray_base_and_stream_lookup():
    import zlib

    pal = bytes([0, 128, 255])
    stream = ("stream", {"/Filter": "/FlateDecode"}, zlib.compress(pal))
    idx = np.array([[2, 1, 0]], np.uint8)
    out = _indexed_decode(3, 1, 8, "/DeviceGray", 2, stream, idx.tobytes())
    assert out.tolist() == [[255, 128, 0]]


def test_indexed_subbyte_packing():
    # 4-bit: two samples per byte, MSB first; rows byte-padded
    pal = bytes(range(16))  # gray palette 0..15
    raw = bytes([0x12, 0x30])  # samples 1,2,3 in a 3-wide row
    out = _indexed_decode(3, 1, 4, "/DeviceGray", 15, pal, raw)
    assert out.tolist() == [[1, 2, 3]]
    # 1-bit: 8 samples per byte
    pal = bytes([0, 255])
    raw = bytes([0b10110000])
    out = _indexed_decode(4, 1, 1, "/DeviceGray", 1, pal, raw)
    assert out.tolist() == [[255, 0, 255, 255]]
    # 2-bit
    pal = bytes([0, 85, 170, 255])
    raw = bytes([0b00011011])
    out = _indexed_decode(4, 1, 2, "/DeviceGray", 3, pal, raw)
    assert out.tolist() == [[0, 85, 170, 255]]


def test_indexed_index_clamped_to_hival():
    # §8.6.6.3: out-of-range indexes clamp, not crash
    pal = bytes([10, 20])
    out = _indexed_decode(1, 1, 8, "/DeviceGray", 1, pal, bytes([200]))
    assert out.tolist() == [[20]]


def test_indexed_named_errors():
    with pytest.raises(ValueError, match="out of scope"):
        _indexed_decode(1, 1, 8, "/DeviceCMYK", 1, b"\x00\x00", b"\x00")
    with pytest.raises(ValueError, match="shorter than hival"):
        _indexed_decode(1, 1, 8, "/DeviceGray", 3, b"\x00\x01", b"\x00")
    with pytest.raises(ValueError, match="BitsPerComponent"):
        _indexed_decode(1, 1, 3, "/DeviceGray", 1, b"\x00\x01", b"\x00")


# -------------------------------------- simple-font /Encoding (§9.6.6)


def _handcraft_pdf(font_extra: bytes, text_hex: str) -> bytes:
    objs = []

    def add(b):
        objs.append(b)
        return len(objs)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
               b"/FirstChar 32 /Widths ["
               + b" ".join(b"500" for _ in range(224)) + b"] "
               + font_extra + b" >>")
    content = f"BT /F1 12 Tf 50 700 Td <{text_hex}> Tj ET".encode()
    cs = add(b"<< /Length " + str(len(content)).encode()
             + b" >>\nstream\n" + content + b"\nendstream")
    page = add(f"<< /Type /Page /Parent 4 0 R /Contents {cs} 0 R "
               f"/MediaBox [0 0 612 792] /Resources << /Font "
               f"<< /F1 {font} 0 R >> >> >>".encode())
    pages = add(f"<< /Type /Pages /Kids [{page} 0 R] /Count 1 >>".encode())
    cat = add(f"<< /Type /Catalog /Pages {pages} 0 R >>".encode())
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs):
        offs.append(len(out))
        out += f"{i + 1} 0 obj\n".encode() + o + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for o in offs:
        out += f"{o:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root {cat} 0 R >>\n"
            f"startxref\n{xref}\n%%EOF".encode())
    return bytes(out)


def _first_text(pdf_bytes: bytes) -> str:
    (page,) = parse_pdf(pdf_bytes)
    return next(it for it in page.items if it[0] == "text")[4]


def test_simple_font_differences_encoding():
    # /Differences remaps byte 0x41 -> /eacute, 0x42 -> /uni0168; 0x43
    # stays at its base-encoding meaning
    pdf = _handcraft_pdf(
        b"/Encoding << /Differences [65 /eacute /uni0168] >>", "414243")
    assert _first_text(pdf) == "éŨC"


def test_simple_font_winansi_curly_quotes():
    # WinAnsi differs from latin-1 exactly in 0x80-0x9F — the curly-quote
    # range every word-processor PDF uses
    pdf = _handcraft_pdf(b"/Encoding /WinAnsiEncoding", "93419444")
    assert _first_text(pdf) == "“A”D"


def test_simple_font_differences_on_winansi_base():
    pdf = _handcraft_pdf(
        b"/Encoding << /BaseEncoding /WinAnsiEncoding "
        b"/Differences [65 /germandbls] >>", "934193")
    assert _first_text(pdf) == "“ß“"


def test_simple_font_unknown_glyph_name_keeps_base():
    # an unknown name contributes no override; the byte keeps its base
    # meaning rather than turning into a guess
    pdf = _handcraft_pdf(
        b"/Encoding << /Differences [65 /notarealglyphname] >>", "4142")
    assert _first_text(pdf) == "AB"


def test_simple_font_no_encoding_unchanged():
    pdf = _handcraft_pdf(b"", "48454c4c4f")
    assert _first_text(pdf) == "HELLO"


# ----------------------------------- image color spaces beyond Device*


def _cs_decode(cs, raw, w=2, h=1):
    from sparkstract.functions.pdf import _decode_image

    d = {"/Width": w, "/Height": h, "/BitsPerComponent": 8,
         "/ColorSpace": cs}
    return _decode_image(d, raw, lambda v: v)


def test_iccbased_resolves_by_component_count():
    gray_prof = ("stream", {"/N": 1}, b"")
    out = _cs_decode(["/ICCBased", gray_prof], bytes([7, 200]))
    assert out.tolist() == [[7, 200]]
    rgb_prof = ("stream", {"/N": 3}, b"")
    out = _cs_decode(["/ICCBased", rgb_prof],
                     bytes([255, 0, 0, 0, 255, 0]))
    from sparkstract.functions.raster import luma

    exp = luma(np.array([[[255, 0, 0], [0, 255, 0]]], np.uint8))
    assert np.array_equal(out, exp)


def test_calgray_calrgb_alias_device_spaces():
    out = _cs_decode(["/CalGray", {}], bytes([3, 9]))
    assert out.tolist() == [[3, 9]]
    out = _cs_decode(["/CalRGB", {}], bytes([10, 10, 10, 20, 20, 20]))
    assert out.tolist() == [[10, 20]]


def test_devicecmyk_image_luma():
    # pure K=255 -> black; zero ink -> white
    raw = bytes([0, 0, 0, 255, 0, 0, 0, 0])
    out = _cs_decode("/DeviceCMYK", raw)
    assert out.tolist() == [[0, 255]]


# ------------------------------------------------------ stencil masks


def test_stencil_mask_xobject_roundtrip():
    """/ImageMask true (§8.9.6.2): sample 0 paints black fill, 1 is
    transparent (white on our page model) — bit-exact on two-level ink."""
    rng = np.random.default_rng(31)
    img = np.where(rng.random((40, 61)) < 0.25, 0, 255).astype(np.uint8)
    data = encode_simple_pdf([[("stencil_image", img, 0, 0)]],
                             page_size=(61, 40))
    (page,) = parse_pdf(data)
    got = next(it for it in page.items if it[0] == "image")[1]
    assert (got == img).all()


def test_stencil_mask_decode_inversion():
    """/Decode [1 0] flips which sample paints (kernel-level pin — a
    byte splice would shift xref offsets)."""
    from sparkstract.functions.pdf import _decode_image

    rng = np.random.default_rng(33)
    img = np.where(rng.random((16, 24)) < 0.3, 0, 255).astype(np.uint8)
    raw = np.packbits(img >= 128, axis=1).tobytes()
    base = {"/Width": 24, "/Height": 16, "/ImageMask": True,
            "/BitsPerComponent": 1}
    ident = lambda v: v  # noqa: E731
    assert (_decode_image(dict(base), raw, ident) == img).all()
    flipped = _decode_image(dict(base, **{"/Decode": [1, 0]}), raw, ident)
    assert (flipped == 255 - img).all()


def test_inline_image_mask_roundtrip():
    """BI /IM true ... ID <packed bits> EI — inline stencil masks decode
    through the same path (the named error is gone)."""
    import zlib as _z

    rng = np.random.default_rng(35)
    img = np.where(rng.random((12, 20)) < 0.3, 0, 255).astype(np.uint8)
    packed = np.packbits(img >= 128, axis=1).tobytes()
    content = (b"q 20 0 0 12 0 0 cm BI /IM true /W 20 /H 12 /BPC 1 ID "
               + packed + b" EI Q")
    # hand-assemble a one-page PDF around the content stream
    objs = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 20 12] "
                b"/Contents 4 0 R >>")
    body = content
    out = bytearray(b"%PDF-1.4\n")
    offs = []
    for i, o in enumerate(objs, start=1):
        offs.append(len(out))
        out += f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
    offs.append(len(out))
    out += (b"4 0 obj\n<< /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream\nendobj\n")
    xref = len(out)
    out += b"xref\n0 5\n0000000000 65535 f \n"
    for off in offs:
        out += f"{off:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n"
            + str(xref).encode() + b"\n%%EOF\n")
    (page,) = parse_pdf(bytes(out))
    got = next(it for it in page.items if it[0] == "image")[1]
    assert (got == img).all()


def test_pdf_lzw_early_change_zero():
    """/EarlyChange 0 streams decode through the late-bump LZW variant
    (previously a named error)."""
    from sparkstract.functions.bits import lzw_encode
    from sparkstract.functions.pdf import _filter_chain

    rng = np.random.default_rng(21)
    data = bytes(rng.integers(0, 7, 9000).astype(np.uint8))
    enc = lzw_encode(data, early=0)
    got = _filter_chain(["/LZWDecode"], enc, [{"/EarlyChange": 0}],
                        lambda v: v)
    assert got == data
