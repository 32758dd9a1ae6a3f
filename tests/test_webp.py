"""functions/webp.py — VP8L bitstream against RFC 9649 hand-built vectors.

No independent WEBP implementation exists in this container, so parity is
pinned the way the CCITT family pins T.4/T.6: bit-level streams assembled
BY HAND from the spec text (each helper writes exactly the fields §3-§5
define, commented field-by-field), the published distance-map prefix, and
self-roundtrip fuzz through the fixture encoder.
"""

import numpy as np
import pytest

from sparkstract.functions.bits import LsbWriter, canonical_codes
from sparkstract.fixtures.encoders.webp import (
    _huffman_lengths,
    _write_full_code,
    _write_simple_code,
    encode_gray_webp,
)
from sparkstract.functions.webp import (
    _DIST_MAP,
    _LsbReader,
    _Prefix,
    _inv_color_transform,
    _inv_predictor,
    _lz77_value,
    _read_prefix_code,
    decode_vp8l,
    decode_webp,
)

# ---------------------------------------------------------------- bit I/O


def test_lsb_reader_writer_roundtrip():
    bw = LsbWriter()
    fields = [(0x2F, 8), (5, 14), (3, 14), (1, 1), (0, 3), (0b101, 3)]
    for v, n in fields:
        bw.write(v, n)
    br = _LsbReader(bw.bytes())
    for v, n in fields:
        assert br.read(v.bit_length() if False else n) == v


def test_reader_truncation_raises():
    br = _LsbReader(b"\xff")
    br.read(8)
    with pytest.raises(ValueError, match="truncated"):
        br.read(1)


# --------------------------------------------------------- distance map

# RFC 9649 §4.2.2 published distance-map prefix (first 24 (dx, dy) pairs).
_SPEC_DIST_PREFIX = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
]

# Full 120-entry published plane-code table (libwebp kCodeToPlaneCodes /
# RFC 9649 §4.2.2) — each code packs dy = code >> 4, dx = 8 - (code & 0xF).
# Pinned in FULL so a generation-rule drift anywhere in the table (not
# just the prefix) fails loudly.
_SPEC_PLANE_CODES = [
    0x18, 0x07, 0x17, 0x19, 0x28, 0x06, 0x27, 0x29, 0x16, 0x1A,
    0x26, 0x2A, 0x38, 0x05, 0x37, 0x39, 0x15, 0x1B, 0x36, 0x3A,
    0x25, 0x2B, 0x48, 0x04, 0x47, 0x49, 0x14, 0x1C, 0x35, 0x3B,
    0x46, 0x4A, 0x24, 0x2C, 0x58, 0x45, 0x4B, 0x34, 0x3C, 0x03,
    0x57, 0x59, 0x13, 0x1D, 0x56, 0x5A, 0x23, 0x2D, 0x44, 0x4C,
    0x55, 0x5B, 0x33, 0x3D, 0x68, 0x02, 0x67, 0x69, 0x12, 0x1E,
    0x66, 0x6A, 0x22, 0x2E, 0x54, 0x5C, 0x43, 0x4D, 0x65, 0x6B,
    0x32, 0x3E, 0x78, 0x01, 0x77, 0x79, 0x53, 0x5D, 0x11, 0x1F,
    0x64, 0x6C, 0x42, 0x4E, 0x76, 0x7A, 0x21, 0x2F, 0x75, 0x7B,
    0x31, 0x3F, 0x63, 0x6D, 0x52, 0x5E, 0x00, 0x74, 0x7C, 0x41,
    0x4F, 0x10, 0x20, 0x62, 0x6E, 0x30, 0x73, 0x7D, 0x51, 0x5F,
    0x40, 0x72, 0x7E, 0x61, 0x6F, 0x50, 0x71, 0x7F, 0x60, 0x70,
]


def test_distance_map_matches_spec_prefix():
    assert _DIST_MAP[:24] == _SPEC_DIST_PREFIX
    assert len(_DIST_MAP) == 120
    assert len(set(_DIST_MAP)) == 120
    # every entry is a causal neighbor (above, or left on the same row)
    assert all(dy > 0 or dx > 0 for dx, dy in _DIST_MAP)


def test_distance_map_matches_published_table_in_full():
    want = [(8 - (c & 0xF), c >> 4) for c in _SPEC_PLANE_CODES]
    assert _DIST_MAP == want


def test_lz77_value_mapping():
    # §4.2.1: codes 0-3 are literal values 1-4; beyond that
    # (2 + code&1) << extra plus extra bits plus one
    for code, want in ((0, 1), (1, 2), (2, 3), (3, 4)):
        assert _lz77_value(code, _LsbReader(b"")) == want
    # code 4: extra=1, offset=4 -> values 5..6
    assert _lz77_value(4, _LsbReader(b"\x00")) == 5
    assert _lz77_value(4, _LsbReader(b"\x01")) == 6
    # code 5: extra=1, offset=6 -> values 7..8
    assert _lz77_value(5, _LsbReader(b"\x00")) == 7
    # code 13: extra=5, offset=96 -> 96 + eb + 1
    assert _lz77_value(13, _LsbReader(b"\x18")) == 121


# ------------------------------------------------------------ prefix codes


def test_simple_code_one_and_two_symbols():
    bw = LsbWriter()
    _write_simple_code(bw, 7)          # 8-bit single-symbol form
    br = _LsbReader(bw.bytes())
    code = _read_prefix_code(br, 256)
    assert code.single == 7

    bw = LsbWriter()
    bw.write(1, 1)   # simple
    bw.write(1, 1)   # two symbols
    bw.write(0, 1)   # first symbol is 1 bit
    bw.write(1, 1)   # symbol 1
    bw.write(9, 8)   # second symbol, always 8 bits
    br = _LsbReader(bw.bytes())
    code = _read_prefix_code(br, 256)
    # both symbols get 1-bit codes; canonical: symbol 1 -> 0, symbol 9 -> 1
    bits = _LsbReader(b"\x02")  # reads 0 then 1
    assert code.read(bits) == 1
    assert code.read(bits) == 9


def test_full_code_roundtrip_with_zero_runs():
    # lengths with long zero gaps exercise the 17/18 run coding both ways
    lengths = {0: 2, 1: 2, 40: 3, 41: 3, 42: 3, 250: 3}
    bw = LsbWriter()
    _write_full_code(bw, lengths, 280)
    br = _LsbReader(bw.bytes())
    code = _read_prefix_code(br, 280)
    codes = canonical_codes([lengths.get(i, 0) for i in range(280)])
    for sym in sorted(lengths):
        c, ln = codes[sym]
        probe = LsbWriter()
        probe.write_code(c, ln)
        probe.write(0, 16)  # padding so peek15 never runs off the end
        assert code.read(_LsbReader(probe.bytes())) == sym


def test_oversubscribed_code_rejected():
    with pytest.raises(ValueError, match="over-subscribed"):
        _Prefix([1, 1, 1])


def test_huffman_lengths_kraft_and_depth_limit():
    rng = np.random.default_rng(11)
    for _ in range(20):
        n = int(rng.integers(2, 60))
        freq = {int(s): int(f) for s, f in
                zip(rng.choice(300, n, replace=False),
                    rng.integers(1, 10_000, n))}
        lengths = _huffman_lengths(freq, 15)
        assert max(lengths.values()) <= 15
        assert sum(2.0 ** -ln for ln in lengths.values()) <= 1.0 + 1e-12


# -------------------------------------------------- hand-assembled streams


def _header(bw, w, h):
    bw.write(0x2F, 8)      # signature
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)         # alpha hint
    bw.write(0, 3)         # version
    return bw


def _two_symbol_code(bw, s0, s1):
    """§5.2.1 simple form, two 8-bit symbols."""
    bw.write(1, 1)
    bw.write(1, 1)
    bw.write(1, 1)
    bw.write(s0, 8)
    bw.write(s1, 8)


def test_hand_stream_literal_pixels():
    """1x2 image, no transforms, literal ARGB pixels through simple codes.
    Every bit below is written per §3/§5.2.3 field order."""
    bw = LsbWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)               # no transforms
    bw.write(0, 1)               # no color cache
    bw.write(0, 1)               # no meta prefix image
    _two_symbol_code(bw, 10, 20)  # green: symbols 10 and 20
    _write_simple_code(bw, 30)   # red
    _write_simple_code(bw, 40)   # blue
    _write_simple_code(bw, 255)  # alpha
    _write_simple_code(bw, 0)    # distance
    # pixel 0: green symbol 10 (canonical code 0), pixel 1: symbol 20 (1)
    bw.write(0, 1)
    bw.write(1, 1)
    argb = decode_vp8l(bw.bytes())
    assert argb.shape == (1, 2, 4)
    assert argb[0, 0].tolist() == [255, 30, 10, 40]
    assert argb[0, 1].tolist() == [255, 30, 20, 40]


def test_hand_stream_lz77_backref():
    """1x8 image: one literal then a length-7 copy at 2D distance (1, 0).
    Length 7 = green symbol 256+5 with one 0 extra bit (§4.2.1); distance
    code 2 -> map entry (1, 0) -> pixel distance 1 (§4.2.2)."""
    bw = LsbWriter()
    _header(bw, 8, 1)
    bw.write(0, 1)               # no transforms
    bw.write(0, 1)               # no color cache
    bw.write(0, 1)               # no meta prefix image
    _two_symbol_code(bw, 99, 255)   # green literal 99; 255 unused filler
    # green alphabet is 280 wide but the simple form stores 8-bit symbols,
    # so the length symbol 261 must come from a full code instead:
    # rebuild the green code as code-length-coded with symbols 99 and 261
    bw2 = LsbWriter()
    _header(bw2, 8, 1)
    bw2.write(0, 1)
    bw2.write(0, 1)
    bw2.write(0, 1)
    _write_full_code(bw2, {99: 1, 261: 1}, 280)   # green
    _write_simple_code(bw2, 0)      # red
    _write_simple_code(bw2, 0)      # blue
    _write_simple_code(bw2, 255)    # alpha
    _write_simple_code(bw2, 1)      # distance: always code 1 -> dcode 2
    glens = [0] * 280
    glens[99] = glens[261] = 1
    gcodes = canonical_codes(glens)
    c, ln = gcodes[99]
    bw2.write_code(c, ln)           # literal pixel green=99
    c, ln = gcodes[261]
    bw2.write_code(c, ln)           # length symbol 261 -> lz77 code 5
    bw2.write(0, 1)                 # 1 extra bit -> length 7
    argb = decode_vp8l(bw2.bytes())
    assert argb.shape == (1, 8, 4)
    assert (argb[0, :, 2] == 99).all()
    assert (argb[0, :, 0] == 255).all()


def test_hand_stream_color_cache():
    """1x3 image with a 1-bit color cache: literal, then the same pixel
    via its cache slot (§4.2.3: index = (0x1e35a7bd * argb) >> 31)."""
    px = (255 << 24) | (7 << 16) | (77 << 8) | 3
    slot = (0x1E35A7BD * px & 0xFFFFFFFF) >> 31
    bw = LsbWriter()
    _header(bw, 3, 1)
    bw.write(0, 1)               # no transforms
    bw.write(1, 1)               # color cache present
    bw.write(1, 4)               # cache_bits = 1
    bw.write(0, 1)               # no meta prefix image
    # green alphabet = 256 + 24 + 2; cache symbols are 280 + slot
    _write_full_code(bw, {77: 1, 280 + slot: 1}, 282)
    _write_simple_code(bw, 7)    # red
    _write_simple_code(bw, 3)    # blue
    _write_simple_code(bw, 255)  # alpha
    _write_simple_code(bw, 0)    # distance
    glens = [0] * 282
    glens[77] = glens[280 + slot] = 1
    gcodes = canonical_codes(glens)
    c, ln = gcodes[77]
    bw.write_code(c, ln)         # literal -> populates the cache
    c, ln = gcodes[280 + slot]
    bw.write_code(c, ln)         # cache hit (pixel 1)
    bw.write_code(c, ln)         # cache hit (pixel 2)
    argb = decode_vp8l(bw.bytes())
    assert (argb[0, :, 1] == 7).all()
    assert (argb[0, :, 2] == 77).all()
    assert (argb[0, :, 3] == 3).all()


def test_hand_stream_palette_with_bundling():
    """2x2 image through the color-indexing transform with 2 palette
    entries: widths bundle 8 px/byte (§4.1.3), palette rows delta-coded."""
    bw = LsbWriter()
    _header(bw, 2, 2)
    bw.write(1, 1)               # a transform follows
    bw.write(3, 2)               # color indexing
    bw.write(1, 8)               # n_colors - 1 = 1
    # palette sub-image (2x1, no cache/meta): entries black then delta
    # to white: (255,0,0,0) then (0,255,255,255)
    bw.write(0, 1)               # no color cache
    _two_symbol_code(bw, 0, 255)   # green channel symbols
    _two_symbol_code(bw, 0, 255)   # red
    _two_symbol_code(bw, 0, 255)   # blue
    _two_symbol_code(bw, 0, 255)   # alpha
    _write_simple_code(bw, 0)      # distance
    # entry 0: g=0 r=0 b=0 a=255 ; entry 1 (delta): g=255 r=255 b=255 a=0
    for g, r, b, a in ((0, 0, 0, 255), (255, 255, 255, 0)):
        for v in (g, r, b, a):
            bw.write(0 if v == 0 else 1, 1)
    bw.write(0, 1)               # no more transforms
    # main image: xsize = ceil(2/8) = 1 column of packed bytes
    bw.write(0, 1)               # no color cache
    bw.write(0, 1)               # no meta prefix image
    # rows pack indices LSB-first: row0 = [0,1] -> 0b10 = 2,
    # row1 = [1,1] -> 0b11 = 3
    _two_symbol_code(bw, 2, 3)   # green carries packed indices
    _write_simple_code(bw, 0)    # red
    _write_simple_code(bw, 0)    # blue
    _write_simple_code(bw, 255)  # alpha
    _write_simple_code(bw, 0)    # distance
    bw.write(0, 1)               # row0 byte: symbol 2 (code 0)
    bw.write(1, 1)               # row1 byte: symbol 3 (code 1)
    argb = decode_vp8l(bw.bytes())
    assert argb.shape == (2, 2, 4)
    assert argb[:, :, 2].tolist() == [[0, 255], [255, 255]]
    assert (argb[:, :, 1] == argb[:, :, 2]).all()  # r == g == b
    assert (argb[:, :, 0] == 255).all()


def test_hand_stream_predictor_transform():
    """1x3 gray image under the predictor transform, all blocks mode 1 (L):
    pixel 0 adds the black seed (§4.1.1), later pixels add their left
    neighbor, so residuals are (v, v, v, -255-ish) then zeros."""
    v = 133
    bw = LsbWriter()
    _header(bw, 3, 1)
    bw.write(1, 1)               # a transform follows
    bw.write(0, 2)               # predictor
    bw.write(2, 3)               # size_bits = 4 -> one 16x16 block
    # sub-image 1x1: mode rides the green channel; mode 1 = L
    bw.write(0, 1)               # no color cache
    _write_simple_code(bw, 1)    # green = mode 1
    _write_simple_code(bw, 0)    # red
    _write_simple_code(bw, 0)    # blue
    _write_simple_code(bw, 0)    # alpha
    _write_simple_code(bw, 0)    # distance
    bw.write(0, 1)               # no more transforms
    # residual image: pixel0 = (a=0, r=v, g=v, b=v) (seed adds a=255),
    # pixels 1-2 all zero
    bw.write(0, 1)               # no color cache
    bw.write(0, 1)               # no meta prefix image
    _two_symbol_code(bw, v, 0)   # green residuals
    _two_symbol_code(bw, v, 0)   # red
    _two_symbol_code(bw, v, 0)   # blue
    _two_symbol_code(bw, 0, 255)  # alpha residuals: 0 everywhere
    _write_simple_code(bw, 0)    # distance
    for g, r, b, a in ((v, v, v, 0), (0, 0, 0, 0), (0, 0, 0, 0)):
        bw.write(1 if g == v else 0, 1)
        bw.write(1 if r == v else 0, 1)
        bw.write(1 if b == v else 0, 1)
        bw.write(1 if a == 255 else 0, 1)
    argb = decode_vp8l(bw.bytes())
    assert (argb[0, :, 1] == v).all()
    assert (argb[0, :, 2] == v).all()
    assert (argb[0, :, 3] == v).all()
    assert (argb[0, :, 0] == 255).all()


# ------------------------------------------------- inverse transform units


def test_inv_predictor_modes_hand_math():
    # 2x2, mode 12 (ClampedAddSubtractFull) everywhere; seed pixel and the
    # row/column fallbacks per §4.1.1
    res = np.zeros((2, 2, 4), dtype=np.uint8)
    res[0, 0] = [0, 10, 20, 30]    # + (255,0,0,0) -> (255,10,20,30)
    res[0, 1] = [1, 1, 1, 1]       # + left
    res[1, 0] = [2, 2, 2, 2]       # + top
    res[1, 1] = [0, 0, 0, 0]       # + clamp(L + T - TL)
    modes = np.array([[12]])
    out = _inv_predictor(res, modes, 4)
    assert out[0, 0].tolist() == [255, 10, 20, 30]
    assert out[0, 1].tolist() == [0, 11, 21, 31]
    assert out[1, 0].tolist() == [1, 12, 22, 32]
    # L=(0,11,21,31) T=(1,12,22,32) TL=(255,10,20,30):
    # clamp(L+T-TL) = (0,13,23,33) channel-wise (a: 0+1-255 -> clamp 0)
    assert out[1, 1].tolist() == [0, 13, 23, 33]


def test_inv_predictor_spec_corners():
    from sparkstract.functions.webp import _inv_predictor

    # mode 3 (TR) at the LAST column wraps to the current row's first
    # pixel (libwebp linear addressing: TR = data[i - width + 1])
    res = np.zeros((2, 2, 4), dtype=np.uint8)
    res[0, 0] = [0, 1, 2, 3]     # + black seed -> (255,1,2,3)
    res[0, 1] = [5, 5, 5, 5]     # row 0, L fallback -> (4,6,7,8)... via L
    res[1, 0] = [1, 1, 1, 1]     # col 0, T fallback
    res[1, 1] = [0, 0, 0, 0]     # mode 3: TR of last col = out[1, 0]
    out = _inv_predictor(res, np.array([[3]]), 4)
    assert out[1, 1].tolist() == out[1, 0].tolist()

    # mode 13: C division truncates toward zero (avg=10, TL=13 -> 9 not 8)
    res = np.zeros((2, 2, 4), dtype=np.uint8)
    res[0, 0] = [0, 0, 0, 13]    # TL becomes (255,0,0,13)
    res[0, 1] = [0, 0, 0, 10]    # T  = (255,0,0,10) via L-fallback? no:
    # row 0 uses L: out[0,1] = out[0,0] + res -> b: 13+10=23. Rebuild:
    res = np.zeros((2, 2, 4), dtype=np.uint8)
    res[0, 0] = [0, 0, 0, 13]    # (255,0,0,13) = TL
    res[0, 1] = [0, 0, 0, 253]   # +L -> b = (13+253)&255 = 10 = T
    res[1, 0] = [0, 0, 0, 253]   # +T(col0 rule: out[0,0]) -> b = 10 = L
    res[1, 1] = [0, 0, 0, 0]
    out = _inv_predictor(res, np.array([[13]]), 4)
    # avg(L,T) b=10, TL b=13, diff=-3 -> trunc(-3/2) = -1 -> pred b = 9
    assert out[1, 1, 3] == 9

    # mode 11 Select: exact tie predicts TOP (strict < toward L)
    res = np.zeros((2, 2, 4), dtype=np.uint8)
    res[0, 0] = [0, 0, 0, 0]     # TL = (255,0,0,0)
    res[0, 1] = [0, 0, 2, 0]     # T  = (255,0,2,0)
    res[1, 0] = [0, 2, 0, 0]     # L  = (255,2,0,0) (col-0 adds T=TL)
    res[1, 1] = [0, 0, 0, 0]
    out = _inv_predictor(res, np.array([[11]]), 4)
    # p = L+T-TL = (255,2,2,0); |p-L| = 2, |p-T| = 2 -> tie -> T
    assert out[1, 1].tolist() == out[0, 1].tolist()


def test_palette_index_out_of_range_is_transparent_black():
    from sparkstract.functions.webp import _inv_color_index

    # >16 colors -> no pixel bundling, indices are plain green bytes
    pal = np.zeros((20, 4), dtype=np.uint8)
    pal[0] = [255, 1, 2, 3]
    pal[1] = [255, 4, 5, 6]
    argb = np.zeros((1, 3, 4), dtype=np.uint8)
    argb[0, :, 2] = [0, 1, 25]   # index 25 >= 20 -> 0x00000000 per §4.1.3
    out = _inv_color_index(argb, pal, 3)
    assert out[0, 0].tolist() == [255, 1, 2, 3]
    assert out[0, 1].tolist() == [255, 4, 5, 6]
    assert out[0, 2].tolist() == [0, 0, 0, 0]


def test_inv_color_transform_hand_math():
    # §4.1.2 / libwebp ColorCodeToMultipliers: the transform element packs
    # green_to_red in its BLUE byte (bits 0-7), green_to_blue in GREEN,
    # red_to_blue in RED. One block: g2r=16 (0.5 fixed) -> r += (16*g)>>5
    data = np.zeros((1, 1, 4), dtype=np.uint8)
    data[0, 0, 3] = 16    # green_to_red rides the BLUE channel
    argb = np.zeros((1, 2, 4), dtype=np.uint8)
    argb[0, 0] = [255, 10, 64, 0]
    argb[0, 1] = [255, 0, 200, 0]   # g=200 is signed -56 in the transform
    out = _inv_color_transform(argb, data, 4)
    assert out[0, 0, 1] == (10 + ((16 * 64) >> 5)) & 0xFF
    assert out[0, 1, 1] == (0 + ((16 * -56) >> 5)) & 0xFF
    # green_to_blue (GREEN byte) and red_to_blue (RED byte) both feed blue
    data2 = np.zeros((1, 1, 4), dtype=np.uint8)
    data2[0, 0, 2] = 8    # green_to_blue
    data2[0, 0, 1] = 4    # red_to_blue
    argb2 = np.zeros((1, 1, 4), dtype=np.uint8)
    argb2[0, 0] = [255, 32, 64, 5]
    out2 = _inv_color_transform(argb2, data2, 4)
    assert out2[0, 0, 3] == (5 + ((8 * 64) >> 5) + ((4 * 32) >> 5)) & 0xFF


# -------------------------------------------------------------- container


def test_container_named_errors():
    # lossy VP8 / extended VP8X are now real decode paths (functions/
    # vp8.py); empty chunks fail with their own named truncation errors
    with pytest.raises(ValueError, match="VP8 payload truncated"):
        decode_webp(b"RIFF\x10\x00\x00\x00WEBPVP8 \x00\x00\x00\x00")
    with pytest.raises(ValueError, match="VP8X header truncated"):
        decode_webp(b"RIFF\x10\x00\x00\x00WEBPVP8X\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="not a WEBP"):
        decode_webp(b"RIFX\x10\x00\x00\x00WEBP")
    with pytest.raises(ValueError, match="no image chunk"):
        decode_webp(b"RIFF\x04\x00\x00\x00WEBP")


def test_codec_dispatch_reads_webp():
    from sparkstract.functions.codecs import decode_pages

    img = (np.arange(35 * 41, dtype=np.int64) % 256).astype(
        np.uint8).reshape(35, 41)
    pages = decode_pages(encode_gray_webp(img))
    assert len(pages) == 1
    assert (pages[0] == img).all()


def test_truncated_stream_never_hangs():
    img = np.tile(np.arange(64, dtype=np.uint8), (16, 1))
    data = encode_gray_webp(img)
    for cut in (13, 20, len(data) // 2, len(data) - 3):
        with pytest.raises(ValueError):
            decode_webp(data[:cut] if cut >= 12 else data[:cut])


def test_color_luma_collapse():
    """A hand-built color VP8L (literal pixels, r != g) collapses to the
    family's BT.601 luma."""
    bw = LsbWriter()
    _header(bw, 1, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    _write_simple_code(bw, 100)   # green
    _write_simple_code(bw, 200)   # red
    _write_simple_code(bw, 50)    # blue
    _write_simple_code(bw, 255)   # alpha
    _write_simple_code(bw, 0)     # distance
    payload = bw.bytes()
    data = (b"RIFF" + (12 + len(payload) + (len(payload) & 1)).to_bytes(
        4, "little") + b"WEBP" + b"VP8L"
        + len(payload).to_bytes(4, "little") + payload
        + (b"\x00" if len(payload) & 1 else b""))
    got = decode_webp(data)
    want = (77 * 200 + 150 * 100 + 29 * 50 + 128) >> 8
    assert got[0, 0] == want


# ------------------------------------------------------------------- fuzz


def test_roundtrip_fuzz():
    rng = np.random.default_rng(7)
    for trial in range(40):
        h, w = int(rng.integers(1, 48)), int(rng.integers(1, 48))
        kind = trial % 4
        if kind == 0:
            img = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        elif kind == 1:
            img = (rng.integers(0, 2, size=(h, w)) * 255).astype(np.uint8)
        elif kind == 2:
            img = np.full((h, w), int(rng.integers(0, 256)), dtype=np.uint8)
        else:  # text-like: few gray levels, long runs
            img = np.where(rng.random((h, w)) < 0.1, 0, 255).astype(np.uint8)
        data = encode_gray_webp(img)
        out = decode_webp(data)
        assert out.shape == img.shape
        assert (out == img).all(), (trial, kind)


def test_fixture_page_roundtrip():
    from sparkstract.fixtures.gen import page_spec
    from sparkstract.fixtures.render import render_page

    rng = np.random.default_rng(5)
    img, _ = render_page(page_spec("single_column", rng))
    assert (decode_webp(encode_gray_webp(img)) == img).all()


def test_fast_loop_bit_exact_with_generic(monkeypatch):
    """The _decode_fast window loop must produce byte-identical output to
    the generic per-pixel path on the same streams (incl. backrefs)."""
    import sparkstract.functions.webp as webp_mod

    rng = np.random.default_rng(77)
    streams = []
    for trial in range(12):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        if trial % 3 == 0:   # long runs -> encoder emits repetitive greens
            img = np.full((h, w), int(rng.integers(0, 256)), dtype=np.uint8)
        elif trial % 3 == 1:
            img = (rng.integers(0, 2, (h, w)) * 255).astype(np.uint8)
        else:
            img = rng.integers(0, 256, (h, w)).astype(np.uint8)
        streams.append(encode_gray_webp(img))
    # add the hand-built LZ77 stream (test above) shape: repetition pages
    fast = [decode_webp(d) for d in streams]
    monkeypatch.setattr(webp_mod, "_FAST", False)
    slow = [decode_webp(d) for d in streams]
    for f, sl in zip(fast, slow):
        assert (f == sl).all()


def _avg2(a, b):
    return (a.astype(np.int64) + b.astype(np.int64)) // 2


def _inv_predictor_ref(argb: np.ndarray, modes: np.ndarray,
                       size_bits: int) -> np.ndarray:
    """Reference semantics of the predictor inverse (per-pixel numpy) —
    kept as the fuzz ground truth for _inv_predictor."""
    h, w, _ = argb.shape
    out = argb.astype(np.int64)

    def px(y, x):
        return out[y, x]

    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0])
            elif y == 0:
                pred = px(0, x - 1)
            elif x == 0:
                pred = px(y - 1, 0)
            else:
                mode = int(modes[y >> size_bits, x >> size_bits])
                lf = px(y, x - 1)
                tp = px(y - 1, x)
                tl = px(y - 1, x - 1)
                # linear addressing (libwebp: TR = data[i - width + 1]):
                # at the last column TR wraps to the CURRENT row's first,
                # already-reconstructed pixel
                tr = px(y - 1, x + 1) if x + 1 < w else px(y, 0)
                if mode == 0:
                    pred = np.array([255, 0, 0, 0])
                elif mode == 1:
                    pred = lf
                elif mode == 2:
                    pred = tp
                elif mode == 3:
                    pred = tr
                elif mode == 4:
                    pred = tl
                elif mode == 5:
                    pred = _avg2(_avg2(lf, tr), tp)
                elif mode == 6:
                    pred = _avg2(lf, tl)
                elif mode == 7:
                    pred = _avg2(lf, tp)
                elif mode == 8:
                    pred = _avg2(tl, tp)
                elif mode == 9:
                    pred = _avg2(tp, tr)
                elif mode == 10:
                    pred = _avg2(_avg2(lf, tl), _avg2(tp, tr))
                elif mode == 11:
                    p = lf + tp - tl
                    # strict <: on a tie libwebp's Select returns TOP
                    if np.abs(p - lf).sum() < np.abs(p - tp).sum():
                        pred = lf
                    else:
                        pred = tp
                elif mode == 12:
                    pred = np.clip(lf + tp - tl, 0, 255)
                else:  # 13 ClampAddSubtractHalf
                    avg = _avg2(lf, tp)
                    diff = avg - tl
                    # C-style (a - b) / 2: truncation toward zero, so a
                    # negative odd diff halves to the SMALLER magnitude
                    half = np.sign(diff) * (np.abs(diff) // 2)
                    pred = np.clip(avg + half, 0, 255)
            out[y, x] = (out[y, x] + pred) & 0xFF
    return out.astype(np.uint8)


def test_inv_predictor_fast_equals_reference():
    """The scalar-int predictor inverse must equal the per-pixel numpy
    reference on random residuals and ALL-mode grids (the decoder's
    crawl-media hot path vs the semantic ground truth)."""
    rng = np.random.default_rng(55)
    for trial in range(25):
        h, w = int(rng.integers(1, 33)), int(rng.integers(1, 33))
        sb = int(rng.integers(2, 5))
        res = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        mh, mw = -(-h // (1 << sb)), -(-w // (1 << sb))
        modes = rng.integers(0, 14, (mh, mw), dtype=np.uint8)
        a = _inv_predictor(res.copy(), modes, sb)
        b = _inv_predictor_ref(res.copy(), modes, sb)
        assert (a == b).all(), (trial, h, w, sb)


def test_meta_prefix_group_count_guard():
    """A crafted meta image claiming 65536 code groups (group id 0xFFFF
    from a 1x1 meta image) must raise BEFORE building 5 prefix tables per
    group — the executor-hanging-DoS guard on the crawl-media path."""
    bw = LsbWriter()
    _header(bw, 4, 4)
    bw.write(0, 1)               # no transforms
    bw.write(0, 1)               # no color cache
    bw.write(1, 1)               # meta prefix image PRESENT
    bw.write(0, 3)               # meta_bits = 2 -> 1x1 meta image
    # the 1x1 meta image itself (is_main=False): no cache, 5 simple codes;
    # its pixel decodes to r=255, g=255 -> group id (r<<8)|g = 0xFFFF
    bw.write(0, 1)               # meta image: no color cache
    _write_simple_code(bw, 255)  # green (group id low byte)
    _write_simple_code(bw, 255)  # red (group id high byte)
    _write_simple_code(bw, 0)    # blue
    _write_simple_code(bw, 255)  # alpha
    _write_simple_code(bw, 0)    # distance
    with pytest.raises(ValueError, match="prefix-group count"):
        decode_vp8l(bw.bytes())


def test_shape_counter_tracks_decode_path():
    from sparkstract.functions import webp as W

    img = np.tile(np.arange(64, dtype=np.uint8), (16, 1))
    data = encode_gray_webp(img)
    W.SHAPE_COUNTS.clear()
    decode_webp(data)
    # fixture encoder emits the single-group/no-cache/constant-aux shape
    assert W.SHAPE_COUNTS == {"fast": 1}
    # force the generic per-pixel fallback: same stream, fast loop off
    W.SHAPE_COUNTS.clear()
    orig = W._FAST
    try:
        W._FAST = False
        decode_webp(data)
    finally:
        W._FAST = orig
    assert W.SHAPE_COUNTS == {"generic": 1}


# ------------------------------------------------------------ alpha plane


def test_alpha_filter_roundtrip_all_methods():
    """Forward filter then scan-order inverse is the identity — every
    container-spec method, degenerate shapes included."""
    from sparkstract.fixtures.encoders.webp import _fwd_alpha_filter
    from sparkstract.functions import webp as W

    rng = np.random.default_rng(11)
    for method in range(4):
        for shape in [(1, 1), (1, 9), (9, 1), (23, 17), (64, 48)]:
            plane = rng.integers(0, 256, shape).astype(np.uint8)
            delta = _fwd_alpha_filter(plane, method)
            assert (W._inv_alpha_filter(delta.copy(), method)
                    == plane).all(), (method, shape)


def test_alpha_gradient_inverse_pinned_against_naive():
    """The vectorized/row-loop gradient inverse equals a literal per-pixel
    transcription of the spec recurrence (clip(left + above - topleft),
    top row -> left, left column -> above, origin -> 0)."""
    from sparkstract.functions import webp as W

    def naive(d):
        h, w = d.shape
        out = np.zeros((h, w), int)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    p = 0
                elif y == 0:
                    p = out[0, x - 1]
                elif x == 0:
                    p = out[y - 1, 0]
                else:
                    p = min(255, max(0, out[y, x - 1] + out[y - 1, x]
                                     - out[y - 1, x - 1]))
                out[y, x] = (p + int(d[y, x])) & 0xFF
        return out.astype(np.uint8)

    rng = np.random.default_rng(13)
    d = rng.integers(0, 256, (31, 29)).astype(np.uint8)
    assert (W._inv_alpha_filter(d.copy(), 3) == naive(d)).all()


def test_alpha_body_roundtrip_compressed_and_raw():
    from sparkstract.fixtures.encoders.webp import encode_alpha_body
    from sparkstract.functions import webp as W

    alpha = np.full((40, 56), 255, np.uint8)
    alpha[:5, :] = 0
    alpha[10:14, 20:30] = 128
    for method in range(4):
        for compressed in (False, True):
            body = encode_alpha_body(alpha, compressed=compressed,
                                     filt=method)
            got = W._decode_alpha(body, 56, 40)
            assert (got == alpha).all(), (method, compressed)


def test_alpha_substream_does_not_pollute_shape_telemetry():
    """A compressed ALPH plane is a VP8L sub-stream, but only the MAIN
    image's decode shape may reach SHAPE_COUNTS — the report key for a
    lossy-with-alpha file stays 'vp8-lossy'."""
    from sparkstract.functions import webp as W
    from sparkstract.fixtures.encoders.vp8 import encode_webp_vp8x

    img = np.tile(np.arange(64, dtype=np.uint8), (16, 1))
    alpha = np.full(img.shape, 255, np.uint8)
    alpha[:2, :] = 0
    data = encode_webp_vp8x(img, alpha=alpha, qi=8,
                            alpha_compressed=True, alpha_filter=3)
    W.SHAPE_COUNTS.clear()
    decode_webp(data)
    assert W.SHAPE_COUNTS == {"vp8-lossy": 1}
