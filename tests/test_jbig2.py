"""JBIG2 embedded-organization decode (functions/jbig2.py): MMR generic
regions over the shared fax machinery, named errors for every
out-of-scope coding family, and the PDF /JBIG2Decode + /JBIG2Globals
seam (ISO 32000 §7.4.7; T.88 §7.2 segment headers)."""

from __future__ import annotations

import numpy as np
import pytest

from sparkstract.fixtures.encoders.jbig2 import _segment_header, encode_jbig2
from sparkstract.functions.jbig2 import decode_jbig2
from sparkstract.fixtures.encoders.pdf import encode_simple_pdf
from sparkstract.functions.pdf import parse_pdf


def _bits(seed: int = 2, shape=(137, 211)) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return (rng.random(shape) < 0.2).astype(np.uint8)


# ----------------------------------------------------------- roundtrips


@pytest.mark.parametrize("stripes", [1, 2, 5])
def test_roundtrip_striped_regions(stripes):
    bits = _bits()
    got = decode_jbig2(encode_jbig2(bits, stripes=stripes))
    assert (got == bits).all()


def test_globals_stream_carries_page_info():
    bits = _bits()
    full = encode_jbig2(bits)
    split = 11 + 19  # page-info segment: header + body
    got = decode_jbig2(full[split:], globals_data=full[:split])
    assert (got == bits).all()


def test_region_without_page_info_sizes_itself():
    bits = _bits(shape=(40, 64))
    full = encode_jbig2(bits)
    got = decode_jbig2(full[11 + 19:])  # drop page info entirely
    assert (got == bits).all()


def test_composition_operators():
    a = np.zeros((8, 8), np.uint8)
    a[:4] = 1
    header = encode_jbig2(a)[: 11 + 19]

    def region(bits, op):
        h, w = bits.shape
        from sparkstract.fixtures.encoders.ccitt import g4_encode

        body = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + (0).to_bytes(8, "big") + bytes([op, 0x01])
                + g4_encode(bits))
        return _segment_header(1, 39, 1, len(body)) + body

    b = np.zeros((8, 8), np.uint8)
    b[:, :4] = 1
    got_or = decode_jbig2(header + region(a, 0) + region(b, 0))
    assert (got_or == (a | b)).all()
    got_xor = decode_jbig2(header + region(a, 0) + region(b, 2))
    assert (got_xor == (a ^ b)).all()
    got_and = decode_jbig2(header + region(a, 0) + region(b, 1))
    assert (got_and == (a & b)).all()
    got_rep = decode_jbig2(header + region(a, 0) + region(b, 4))
    assert (got_rep == b).all()


# --------------------------------------------------------- named errors


def _tamper_generic_flags(data: bytes, new_flags: int) -> bytes:
    # generic flags byte sits right after the 17-byte region info of the
    # first region segment (which follows the 30-byte page-info segment)
    i = 30 + 11 + 17
    return data[:i] + bytes([new_flags]) + data[i + 1:]


def test_tpgdon_with_mmr_rejected():
    data = _tamper_generic_flags(encode_jbig2(_bits()), 0x09)
    with pytest.raises(ValueError, match="TPGDON"):
        decode_jbig2(data)


@pytest.mark.parametrize("seg_type,msg", [
    (20, "intermediate halftone"), (40, "refinement"), (53, "code tables"),
    (36, "intermediate"), (4, "intermediate text"),
])
def test_out_of_scope_segment_types_named(seg_type, msg):
    data = encode_jbig2(_bits())[:30] + _segment_header(1, seg_type, 1, 0)
    with pytest.raises(ValueError, match=msg):
        decode_jbig2(data)


def test_unknown_length_named_error():
    hdr = _segment_header(0, 48, 1, 0)
    data = hdr[:-4] + b"\xff\xff\xff\xff"
    with pytest.raises(ValueError, match="unknown segment length"):
        decode_jbig2(data)


def test_truncated_stream_raises():
    data = encode_jbig2(_bits())
    with pytest.raises(ValueError, match="truncated"):
        decode_jbig2(data[:40])


def test_region_outside_page_rejected():
    bits = _bits(shape=(8, 8))
    full = encode_jbig2(bits)
    # shrink the declared page to 4x4; the 8x8 region now overflows
    data = bytearray(full)
    data[11:15] = (4).to_bytes(4, "big")
    data[15:19] = (4).to_bytes(4, "big")
    with pytest.raises(ValueError, match="outside page bounds"):
        decode_jbig2(bytes(data))


def test_page_bomb_guard():
    page_info = ((1 << 20).to_bytes(4, "big") + (1 << 20).to_bytes(4, "big")
                 + (0).to_bytes(8, "big") + bytes([0]) + (0).to_bytes(2, "big"))
    data = _segment_header(0, 48, 1, len(page_info)) + page_info
    with pytest.raises(ValueError, match="too large"):
        decode_jbig2(data)


def test_no_region_rejected():
    with pytest.raises(ValueError, match="no region"):
        decode_jbig2(_segment_header(0, 49, 1, 0))


# ----------------------------------------------------------- PDF seam


def _page_img() -> np.ndarray:
    rng = np.random.default_rng(21)
    return np.where(rng.random((40, 64)) < 0.2, 0, 255).astype(np.uint8)


@pytest.mark.parametrize("encrypt", [False, True])
def test_pdf_jbig2_image_roundtrip_exact(encrypt):
    img = _page_img()
    data = encode_simple_pdf([[("jbig2_image", img, 0, 0)]],
                             page_size=(64, 40), encrypt=encrypt)
    (page,) = parse_pdf(data)
    got = next(it for it in page.items if it[0] == "image")[1]
    assert (got == img).all()


def test_pdf_jbig2_fixture_family_builds():
    from sparkstract.fixtures.gen import _Builder

    b = _Builder(seed=9)
    ref, blocks = b.add_page("pdf_jbig2_page")
    assert blocks and b.media[-1]["image"][:5] == b"%PDF-"


# ------------------------------------- arithmetic (MQ) generic regions


@pytest.mark.parametrize("template", [0, 1, 2, 3])
@pytest.mark.parametrize("tpgdon", [False, True])
def test_arith_generic_roundtrip(template, tpgdon):
    bits = _bits(seed=template + 5, shape=(61, 83))
    got = decode_jbig2(encode_jbig2(bits, coder="arith", template=template,
                                    tpgdon=tpgdon))
    assert (got == bits).all()


@pytest.mark.parametrize("template", [0, 1, 2, 3])
def test_arith_tpgdon_typical_rows(template):
    # repeated rows exercise the LTP copy path (T.88 §6.2.5.7 step 2)
    bits = np.tile(_bits(shape=(4, 50)), (9, 1))
    got = decode_jbig2(encode_jbig2(bits, coder="arith", template=template,
                                    tpgdon=True))
    assert (got == bits).all()


def test_arith_striped_regions():
    bits = _bits(seed=4)
    got = decode_jbig2(encode_jbig2(bits, stripes=3, coder="arith"))
    assert (got == bits).all()


@pytest.mark.parametrize("template,at", [
    (0, ((1, -1), (-2, -1), (3, -2), (-4, -2))),
    (1, ((-1, -2),)), (2, ((5, -1),)), (3, ((-2, 0),)),
])
def test_arith_non_nominal_at_roundtrip(template, at):
    # moved AT pixels force the general per-pixel path; the encoder uses
    # the same slot layout, so a mismatch in either direction breaks this
    from sparkstract.fixtures.encoders.jbig2 import _encode_generic
    from sparkstract.functions.jbig2 import _CTX_BITS, _bank, _decode_generic
    from sparkstract.fixtures.encoders.jp2 import MQEncoder
    from sparkstract.functions.jp2 import MQDecoder

    bits = _bits(seed=13, shape=(40, 57))
    enc = MQEncoder()
    _encode_generic(enc, _bank(1 << _CTX_BITS[template]), bits,
                    template, at, False)
    got = _decode_generic(MQDecoder(enc.flush()),
                          _bank(1 << _CTX_BITS[template]),
                          57, 40, template, at, False)
    assert (got == bits).all()


def test_arith_at_must_be_causal():
    from sparkstract.functions.jbig2 import _CTX_BITS, _bank, _decode_generic
    from sparkstract.functions.jp2 import MQDecoder

    with pytest.raises(ValueError, match="causal"):
        _decode_generic(MQDecoder(b""), _bank(1 << _CTX_BITS[2]),
                        8, 8, 2, ((1, 0),), False)
    with pytest.raises(ValueError, match="causal"):
        _decode_generic(MQDecoder(b""), _bank(1 << _CTX_BITS[2]),
                        8, 8, 2, ((0, 1),), False)


def test_arith_int_coder_roundtrip():
    from sparkstract.fixtures.encoders.jbig2 import _int_encode
    from sparkstract.functions.jbig2 import _bank, _int_decode
    from sparkstract.fixtures.encoders.jp2 import MQEncoder
    from sparkstract.functions.jp2 import MQDecoder

    values = [0, 1, -1, 3, 4, 19, 20, 83, 84, 339, 340, 4435, 4436,
              100000, -4436, -340, -77, None, 2, None, -2]
    enc = MQEncoder()
    bank = _bank(512)
    for v in values:
        _int_encode(enc, bank, v)
    mq = MQDecoder(enc.flush())
    bank = _bank(512)
    got = [_int_decode(mq, bank) for _ in values]
    assert got == values


# ------------------------------------------ symbol dictionary + text


def _glyph_page() -> np.ndarray:
    page = np.zeros((90, 160), np.uint8)
    a = np.array([[1, 1, 1], [1, 0, 1], [1, 1, 1]], np.uint8)
    b = np.array([[0, 1], [1, 1], [0, 1], [0, 1]], np.uint8)
    for gy, gx, g in [(5, 5, a), (5, 15, a), (5, 25, b), (40, 8, b),
                      (40, 30, a), (84, 156, a), (60, 0, b)]:
        page[gy:gy + g.shape[0], gx:gx + g.shape[1]] |= g
    return page


@pytest.mark.parametrize("refcorner", [0, 1, 2, 3])
@pytest.mark.parametrize("transposed", [0, 1])
def test_text_region_roundtrip_all_corners(refcorner, transposed):
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    page = _glyph_page()
    stream, glob = encode_jbig2_text(page, refcorner=refcorner,
                                     transposed=transposed)
    got = decode_jbig2(stream, globals_data=glob)
    assert (got == page).all()


def test_text_region_random_ink_roundtrip():
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    bits = _bits(seed=31, shape=(70, 110))
    stream, glob = encode_jbig2_text(bits)
    got = decode_jbig2(stream, globals_data=glob)
    assert (got == bits).all()


def test_symbol_dict_deduplicates_repeated_glyphs():
    # 5 instances of glyph a + 2 of glyph b -> exactly 2 symbols coded
    from sparkstract.functions.jbig2 import _parse_segment_header, _Cursor
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    stream, glob = encode_jbig2_text(_glyph_page())
    c = _Cursor(glob)
    seg = _parse_segment_header(c)          # page info
    c.take(seg["length"])
    seg = _parse_segment_header(c)          # symbol dict
    assert seg["type"] == 0
    body = _Cursor(c.take(seg["length"]))
    body.take(2 + 8)                        # flags + 4 AT pairs
    assert body.u32() == 2                  # SDNUMEXSYMS
    assert body.u32() == 2                  # SDNUMNEWSYMS


def test_symbol_dict_arith_body_with_huffman_flag_raises_cleanly():
    """Flipping SDHUFF on an ARITHMETIC-coded body yields garbage for the
    Huffman reader — it must fail with a ValueError (any parse/guard
    error), never hang or return a bitmap."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    stream, glob = encode_jbig2_text(_glyph_page())
    g = bytearray(glob)
    g[30 + 11 + 1] |= 0x01                  # SDHUFF bit in dict flags
    with pytest.raises(ValueError):
        decode_jbig2(stream, globals_data=bytes(g))


def test_symbol_dict_refagg_flag_on_generic_body_fails_cleanly():
    """SDREFAGG flipped onto a generic-coded body desynchronizes the
    parse (the refinement AT eats into the counts) — clean failure or
    garbage, never a hang; Huffman+refagg stays a NAMED combination."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    stream, glob = encode_jbig2_text(_glyph_page())
    g = bytearray(glob)
    g[30 + 11 + 1] |= 0x02                  # SDREFAGG bit
    try:
        decode_jbig2(stream, globals_data=bytes(g))
    except ValueError:
        pass
    g = bytearray(glob)
    g[30 + 11 + 1] |= 0x03                  # SDHUFF + SDREFAGG
    with pytest.raises(ValueError, match="Huffman refinement/aggregate"):
        decode_jbig2(stream, globals_data=bytes(g))


def test_text_region_huffman_and_refine_named_errors():
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    stream, glob = encode_jbig2_text(_glyph_page())
    # text-region flags sit after its 12-byte header (incl. one referred
    # segment byte) + 17-byte region info
    # SBREFINE on a non-refined body desynchronizes the parse (the AT
    # bytes eat into NUMINSTANCES) — must fail cleanly or mis-decode,
    # never hang; Huffman+refine stays a NAMED combination error
    s = bytearray(stream)
    s[12 + 17 + 1] |= 0x02
    try:
        decode_jbig2(bytes(s), globals_data=glob)
    except ValueError:
        pass
    s = bytearray(stream)
    s[12 + 17 + 1] |= 0x03                  # SBHUFF + SBREFINE
    with pytest.raises(ValueError, match="Huffman refined"):
        decode_jbig2(bytes(s), globals_data=glob)
    # SBHUFF on an arithmetic body is garbage for the Huffman reader —
    # clean ValueError, never a hang
    s = bytearray(stream)
    s[12 + 17 + 1] |= 0x01
    with pytest.raises(ValueError):
        decode_jbig2(bytes(s), globals_data=glob)


def test_text_region_without_symbols_named_error():
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    stream, glob = encode_jbig2_text(_glyph_page())
    # drop the symbol dictionary from the globals: page info only
    with pytest.raises(ValueError, match="no referred symbols"):
        decode_jbig2(stream, globals_data=glob[:30])


def test_blank_page_falls_back_to_generic():
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    blank = np.zeros((20, 30), np.uint8)
    stream, glob = encode_jbig2_text(blank)
    got = decode_jbig2(stream, globals_data=glob)
    assert (got == blank).all()


# --------------------------------------------------- PDF seam (arith)


@pytest.mark.parametrize("el", ["jbig2_arith_image", "jbig2_text_image"])
@pytest.mark.parametrize("encrypt", [False, True])
def test_pdf_jbig2_arith_elements_roundtrip(el, encrypt):
    img = _page_img()
    data = encode_simple_pdf([[(el, img, 0, 0)]],
                             page_size=(64, 40), encrypt=encrypt)
    (page,) = parse_pdf(data)
    got = next(it for it in page.items if it[0] == "image")[1]
    assert (got == img).all()


@pytest.mark.parametrize("family",
                         ["pdf_jbig2_arith_page", "pdf_jbig2_text_page"])
def test_pdf_jbig2_arith_families_extract(family):
    from sparkstract.fixtures.gen import _Builder
    from sparkstract.operators.page import analyse_page

    b = _Builder(seed=9)
    ref, blocks = b.add_page(family)
    assert b.media[-1]["image"][:5] == b"%PDF-"
    (page,) = parse_pdf(b.media[-1]["image"])
    img = next(it for it in page.items if it[0] == "image")[1]
    got = [(blk.kind, blk.text) for blk in analyse_page(img)]
    assert got == [(t.kind, t.text) for t in blocks]


# ------------------------------------------------- Huffman organization


def test_standard_tables_kraft_and_assignment():
    """Every Annex-B table's canonical assignment is a valid prefix code:
    Kraft sum <= 1 (B.10 is genuinely incomplete in the spec, all others
    complete), codes unique per (length, value)."""
    from sparkstract.functions.jbig2 import _STD_TABLES

    for name, tab in _STD_TABLES.items():
        kraft = sum(2.0 ** -ln for ln, _, _ in tab.codes)
        assert kraft <= 1.0 + 1e-12, name
        if name != "B10":
            assert abs(kraft - 1.0) < 1e-12, name
        assert len({(ln, c) for ln, c, _ in tab.codes}) == len(tab.codes)


def test_table_b1_hand_decoded_vectors():
    """B.1's canonical codes from the spec lines: '0'+4 bits -> 0..15,
    '10'+8 bits -> 16..271, '110'+16 bits -> 272.., '111'+32 bits ->
    65808+."""
    from sparkstract.functions.jbig2 import _MsbReader, _STD_TABLES

    b1 = _STD_TABLES["B1"]

    def dec(bits):
        by = int(bits.ljust(((len(bits) + 7) // 8) * 8, "0"), 2).to_bytes(
            (len(bits) + 7) // 8, "big")
        return b1.decode(_MsbReader(by))

    assert dec("0" + "0101") == 5
    assert dec("10" + "00000011") == 19
    assert dec("110" + "0000000000000001") == 273
    assert dec("111" + format(7, "032b")) == 65815


def test_table_b8_oob_and_negative():
    from sparkstract.functions.bits import MsbWriter
    from sparkstract.functions.jbig2 import _MsbReader, _STD_TABLES

    b8 = _STD_TABLES["B8"]
    for v in [-15, -3, -1, 0, 1, 4, 19, 700, 1669, 5000, -500, None]:
        bw = MsbWriter()
        b8.encode(bw, v)
        assert b8.decode(_MsbReader(bw.bytes())) == v


@pytest.mark.parametrize("collective", ["mmr", "raw"])
def test_huffman_text_roundtrip(collective):
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    rng = np.random.default_rng(3)
    page = np.zeros((60, 90), np.uint8)
    glyphs = [rng.integers(0, 2, (7, 5)).astype(np.uint8)
              | np.eye(7, 5, dtype=np.uint8) for _ in range(6)]
    for k in range(25):
        y, x = 3 + 9 * (k // 9), 3 + 9 * (k % 9)
        page[y:y + 7, x:x + 5] |= glyphs[k % 6]
    stream, glob = encode_jbig2_text(page, coder="huffman",
                                     collective=collective)
    assert (decode_jbig2(stream, glob) == page).all()


@pytest.mark.parametrize("refcorner", [0, 1, 2, 3])
@pytest.mark.parametrize("transposed", [0, 1])
def test_huffman_text_corners(refcorner, transposed):
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    rng = np.random.default_rng(9)
    page = np.zeros((40, 70), np.uint8)
    for k in range(8):
        g = rng.integers(0, 2, (5 + (k % 3), 4)).astype(np.uint8)
        g[0, 0] = 1
        page[4 + 9 * (k // 4):4 + 9 * (k // 4) + g.shape[0],
             5 + 12 * (k % 4):5 + 12 * (k % 4) + 4] |= g
    stream, glob = encode_jbig2_text(page, refcorner=refcorner,
                                     transposed=transposed, coder="huffman")
    assert (decode_jbig2(stream, glob) == page).all()


def test_huffman_custom_table_selector_named_error():
    """Selector 3 (custom table) in the symbol-dict DH field raises the
    named error instead of misdecoding."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    page = np.zeros((20, 30), np.uint8)
    page[5:10, 5:9] = 1
    stream, glob = encode_jbig2_text(page, coder="huffman")
    # symbol dict body starts after page info (30 bytes) + its segment
    # header (11); flags halfword is the body's first two bytes
    bad = bytearray(glob)
    i = 30 + 11                            # page-info total + dict header
    assert bad[i:i + 2] == b"\x00\x01"
    bad[i + 1] |= 0x0C                     # SDHUFFDH selector -> 3
    with pytest.raises(ValueError, match="custom DH"):
        decode_jbig2(stream, bytes(bad))


def test_pdf_jbig2_huff_family_roundtrip():
    """The /JBIG2Decode Huffman-organization PDF family reproduces its
    page bit-exactly through the full PDF seam."""
    from sparkstract.fixtures.gen import _Builder
    from sparkstract.operators.page import analyse_page

    b = _Builder(5)
    ref, blocks = b.add_page("pdf_jbig2_huff_page")
    pp = parse_pdf(bytes(b.media[-1]["image"]))
    assert len(pp) == 1 and not pp[0].has_text
    img = [it for it in pp[0].items if it[0] == "image"][0][1]
    got = analyse_page(img)
    assert ([(x.kind, x.text) for x in got]
            == [(x.kind, x.text) for x in blocks])


def test_huffman_fuzz_never_hangs():
    """Random byte mutations of a Huffman-organization stream: clean
    decode or exception, never a hang — crawl media is untrusted."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_text

    rng = np.random.default_rng(23)
    page = np.zeros((30, 50), np.uint8)
    for k in range(6):
        page[5 + 3 * (k % 2):12 + 3 * (k % 2), 4 + 7 * k:8 + 7 * k] = 1
    stream, glob = encode_jbig2_text(page, coder="huffman")
    base = bytearray(glob + stream)
    for _ in range(400):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 8))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            decode_jbig2(bytes(enc[len(glob):]), bytes(enc[:len(glob)]))
        except Exception:
            pass


# --------------------------------------------------- halftone (§6.6/§6.7)


@pytest.mark.parametrize("pattern_coder", ["mmr", "arith"])
def test_halftone_roundtrip_block_densities(pattern_coder):
    """The halftone mirror: decoded block ink density equals the encoder's
    quantized inverted gray level EXACTLY (pattern k has k ink cells)."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_halftone

    yy, xx = np.mgrid[0:64, 0:96]
    gray = (60 + 120 * xx / 95).astype(np.uint8)
    gray[20:40, 30:60] = 0
    out = decode_jbig2(encode_jbig2_halftone(
        gray, pattern_coder=pattern_coder))
    assert out.shape == gray.shape
    blk = out.reshape(16, 4, 24, 4).mean(axis=(1, 3))
    target = np.rint((255 - gray.reshape(16, 4, 24, 4).mean(axis=(1, 3)))
                     * 16 / 255) / 16
    assert np.abs(blk - target).max() == 0


def test_halftone_gray_code_planes_are_real():
    """17 levels -> 5 gray-code bitplanes; a mid-gradient exercises plane
    transitions (values crossing power-of-two boundaries)."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_halftone

    gray = np.tile(np.linspace(0, 255, 96).astype(np.uint8), (16, 1))
    out = decode_jbig2(encode_jbig2_halftone(gray))
    densities = out.reshape(4, 4, 24, 4).mean(axis=(1, 3))[0]
    # strictly non-increasing ink left->right (gradient goes light)
    assert (np.diff(densities) <= 0).all()
    assert densities[0] == 1.0 and densities[-1] == 0.0


def test_halftone_named_errors():
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_halftone

    gray = np.full((16, 16), 128, np.uint8)
    data = bytearray(encode_jbig2_halftone(gray))
    # halftone region flags byte: after page info (30) + pattern dict
    # segment + the region segment header (12: one ref) + region info (17)
    i = data.index(b"\x00\x00\x00\x10\x00\x00\x00\x10", 30)  # region w,h
    flags_at = i + 8 + 8 + 1
    bad = bytearray(data)
    bad[flags_at] |= 0x01                    # HMMR grayscale
    with pytest.raises(ValueError, match="halftone MMR grayscale"):
        decode_jbig2(bytes(bad))
    bad = bytearray(data)
    bad[flags_at] |= 0x08                    # HENABLESKIP
    with pytest.raises(ValueError, match="skip mask"):
        decode_jbig2(bytes(bad))


def test_pdf_jbig2_halftone_family_is_one_image_block():
    from sparkstract.fixtures.gen import _Builder
    from sparkstract.operators.page import analyse_page

    b = _Builder(seed=7)
    ref, blocks = b.add_page("pdf_jbig2_halftone_page")
    pp = parse_pdf(bytes(b.media[-1]["image"]))
    img = [it for it in pp[0].items if it[0] == "image"][0][1]
    got = analyse_page(img)
    assert [(x.kind, x.text) for x in got] == [("flowing_image", None)]


def test_halftone_family_density_window_always_one_image():
    """The fixture family's whole lo window classifies as exactly one
    image block (no ghost text at any density it can draw)."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_halftone
    from sparkstract.operators.page import analyse_page

    yy, xx = np.mgrid[0:220, 0:300]
    for lo in (140, 155, 169):
        gray = np.full((220, 300), 255, np.uint8)
        gray[40:180, 40:260] = (
            lo + 70 * (xx[40:180, 40:260] - 40) / 219).astype(np.uint8)
        bits = decode_jbig2(encode_jbig2_halftone(gray))
        img = ((1 - bits) * 255).astype(np.uint8)
        got = analyse_page(img)
        assert [(b.kind, b.text) for b in got] == \
            [("flowing_image", None)], lo


# -------------------------------------------------- refinement (§6.3)


@pytest.mark.parametrize("template", [0, 1])
def test_refinement_roundtrip_exact(template):
    """Lossy generic pass + immediate refinement region (REPLACE) — the
    progressive-transmission shape — reconstructs the page exactly."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_refined

    rng = np.random.default_rng(3)
    bits = (rng.random((57, 83)) < 0.25).astype(np.uint8)
    out = decode_jbig2(encode_jbig2_refined(bits, template=template))
    assert (out == bits).all()


def test_refinement_reference_matters():
    """The refinement stream decodes against the page's CURRENT content —
    zeroing the first-pass region breaks reconstruction (proves the
    reference plumbing is real, not a fresh decode)."""
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_refined

    rng = np.random.default_rng(5)
    bits = (rng.random((40, 60)) < 0.3).astype(np.uint8)
    data = bytearray(encode_jbig2_refined(bits))
    # blank the lossy base: replace its generic-region MQ data segment
    # with an empty-page coding of the same length is intrusive — instead
    # flip the first-pass composition op to AND against the all-zero page
    i = 30 + 11 + 16                        # first region's op byte
    assert data[i] == 0
    data[i] = 1                             # OR -> AND: base becomes empty
    out = decode_jbig2(bytes(data))
    assert not (out == bits).all()


def test_refinement_named_errors():
    from sparkstract.fixtures.encoders.jbig2 import encode_jbig2_refined

    bits = np.zeros((16, 16), np.uint8)
    bits[4:9, 4:9] = 1
    data = encode_jbig2_refined(bits)
    # TPGRON bit in the refinement flags byte (second region segment)
    seg2 = data.index(b"\x00\x00\x00\x10\x00\x00\x00\x10",
                      30 + 11 + 17)         # second region info
    flags_at = seg2 + 17
    bad = bytearray(data)
    bad[flags_at] |= 0x02
    with pytest.raises(ValueError, match="TPGRON"):
        decode_jbig2(bytes(bad))
    # intermediate refinement type (40) stays named
    hdr_at = seg2 - 11                      # segment header start (no refs)
    bad = bytearray(data)
    assert bad[hdr_at + 4] & 0x3F == 43
    bad[hdr_at + 4] = (bad[hdr_at + 4] & ~0x3F) | 40
    with pytest.raises(ValueError, match="intermediate refinement"):
        decode_jbig2(bytes(bad))


def test_refined_text_region_instances():
    """SBREFINE (§6.4.11): IARI-selected instances decode a refinement of
    the dictionary symbol — pixel flips AND a grown bitmap (RDW/RDH > 0,
    centered reference) — while unrefined instances pass through."""
    from sparkstract.fixtures.encoders.jbig2 import (
        _encode_symbol_dict,
        _encode_text_region,
        _page_info_segment,
        _segment_header,
    )
    from sparkstract.functions.jbig2 import _T_END_OF_PAGE

    rng = np.random.default_rng(3)
    s0 = (rng.random((7, 5)) < 0.4).astype(np.uint8)
    s0[0, 0] = 1
    s1 = (rng.random((7, 5)) < 0.4).astype(np.uint8)
    s1[0, 1] = 1
    syms = sorted([s0, s1], key=lambda a: (a.shape[0], a.shape[1]))
    r0 = syms[0].copy()
    r0[3, 2] ^= 1
    r0[1, 4] ^= 1
    r1 = np.zeros((9, 7), np.uint8)
    r1[1:8, 1:6] = syms[1]
    r1[0, 0] = 1
    r1[8, 6] = 1
    instances = [(0, 3, 3), (1, 12, 3), (0, 21, 3, r0),
                 (1, 3, 14, r1), (1, 14, 14)]
    w, h = 34, 26
    glob = _page_info_segment(w, h) + _encode_symbol_dict(1, syms)
    stream = (_encode_text_region(2, 1, w, h, syms, instances)
              + _segment_header(3, _T_END_OF_PAGE, 1, 0))
    page = decode_jbig2(stream, glob)
    exp = np.zeros((h, w), np.uint8)
    for it in instances:
        bm = it[3] if len(it) > 3 else syms[it[0]]
        exp[it[2]:it[2] + bm.shape[0], it[1]:it[1] + bm.shape[1]] |= bm
    assert (page == exp).all()



def test_aggregate_symbol_dict_single_instance_refinement():
    """SDREFAGG=1 (§6.5.8.2.2): new symbols decode as single-instance
    refinements of symbols from the REFERRED dictionary — the
    near-duplicate-glyph shape real encoders emit."""
    from sparkstract.fixtures.encoders.jbig2 import (
        _encode_symbol_dict,
        _encode_symbol_dict_refagg,
        _encode_text_region,
        _page_info_segment,
    )
    from sparkstract.functions.jbig2 import _T_END_OF_PAGE

    rng = np.random.default_rng(3)
    s0 = (rng.random((7, 5)) < 0.4).astype(np.uint8)
    s0[0, 0] = 1
    s1 = (rng.random((8, 6)) < 0.4).astype(np.uint8)
    s1[0, 1] = 1
    base = sorted([s0, s1], key=lambda a: (a.shape[0], a.shape[1]))
    n0 = base[0].copy()
    n0[3, 2] ^= 1
    n1 = base[1].copy()
    n1[2, 1] ^= 1
    n1[5, 4] ^= 1
    w, h = 40, 24
    glob = (_page_info_segment(w, h)
            + _encode_symbol_dict(1, base)
            + _encode_symbol_dict_refagg(2, base, [(0, n0), (1, n1)], 1))
    syms_all = base + [n0, n1]
    instances = [(0, 2, 2), (1, 10, 2), (2, 20, 2), (3, 28, 2)]
    stream = (_encode_text_region(3, 2, w, h, syms_all, instances)
              + _segment_header(4, _T_END_OF_PAGE, 1, 0))
    page = decode_jbig2(stream, glob)
    exp = np.zeros((h, w), np.uint8)
    for sid, x, y in instances:
        bm = syms_all[sid]
        exp[y:y + bm.shape[0], x:x + bm.shape[1]] |= bm
    assert (page == exp).all()
