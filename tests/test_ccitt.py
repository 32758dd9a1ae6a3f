"""CCITT Group 4 (T.6) codec: tables, roundtrip, guards, TIFF integration.

Reference contract: Leptonica reads G4 TIFF through the same byte-stream
sniff as every other raster (SetImage /root/reference/src/api/baseapi.cpp:881),
so G4 media must flow through decode_pages like PNG/LZW-TIFF do.
"""

import numpy as np
import pytest

from sparkstract.fixtures.encoders.ccitt import g4_encode
from sparkstract.functions.ccitt import (
    _BLACK_TERM, _EXT_MAKEUP, _MAKEUP, _TERM, _WHITE_TERM, g4_decode,
)

# (bit-length, code-value) -> run inversion, built HERE from the encode
# tables: production decoding uses the prebuilt _RUN_LUT fast path, so the
# inversion check is a test-side construction, not a library table.
_RUN_DEC: tuple[dict, dict] = ({}, {})
for _color in (0, 1):
    for _run, _code in enumerate(_TERM[_color]):
        _RUN_DEC[_color][(len(_code), int(_code, 2))] = _run
    for _run, _code in _MAKEUP[_color].items():
        _RUN_DEC[_color][(len(_code), int(_code, 2))] = _run
from sparkstract.fixtures.encoders.tiff import encode_gray_tiff
from sparkstract.functions.tiff import decode_gray_tiff


def _bitstr(data: bytes) -> str:
    return "".join(f"{b:08b}" for b in data)


def test_tables_are_prefix_free():
    """A transcription slip in the T.4 tables almost always breaks the
    prefix property — self-roundtrip alone cannot catch a consistent
    mis-copy, this structural check catches most of them."""
    for color in (0, 1):
        codes = list(_TERM[color]) + list(_MAKEUP[color].values())
        assert len(set(codes)) == len(codes)
        s = sorted(codes)
        for a, b in zip(s, s[1:]):
            assert not b.startswith(a), (color, a, b)


def test_table_shapes_match_t4():
    """Structural facts straight from the spec tables."""
    assert len(_WHITE_TERM) == 64 and len(_BLACK_TERM) == 64
    # white terminating codes are 4-8 bits (except run 0/1), black 2-13
    assert _WHITE_TERM[0] == "00110101"        # the classic 0x35
    assert _BLACK_TERM[2] == "11" and _BLACK_TERM[3] == "10"
    assert set(_EXT_MAKEUP) == set(range(1792, 2561, 64))
    for color in (0, 1):
        assert set(_MAKEUP[color]) == set(range(64, 2561, 64))
        # decode table inverts encode exactly
        for run, code in enumerate(_TERM[color]):
            assert _RUN_DEC[color][(len(code), int(code, 2))] == run


def test_hand_coded_vector():
    """One row BBBBWWWW at w=8, coded by hand from T.6 §4.2:
    line start a0=-1, first coding change a1=0, b1=w (all-white reference)
    -> horizontal mode (001), white run 0 (00110101), black run 4 (011);
    then a1=b1=w -> V0 (1); EOFB."""
    bits = np.array([[1, 1, 1, 1, 0, 0, 0, 0]], dtype=np.uint8)
    enc = g4_encode(bits)
    expected = "001" + "00110101" + "011" + "1" + "000000000001" * 2
    assert _bitstr(enc).startswith(expected)
    assert (g4_decode(enc, 8, 1) == bits).all()


def test_roundtrip_fuzz():
    rng = np.random.default_rng(7)
    for trial in range(120):
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 180))
        kind = trial % 5
        if kind == 0:
            bits = rng.integers(0, 2, (h, w)).astype(np.uint8)
        elif kind == 1:
            bits = (rng.random((h, w)) < 0.04).astype(np.uint8)
        elif kind == 2:
            bits = np.zeros((h, w), np.uint8)
            bits[:, ::5] = 1
        elif kind == 3:
            bits = np.ones((h, w), np.uint8)
        else:
            bits = np.zeros((h, w), np.uint8)
        dec = g4_decode(g4_encode(bits), w, h)
        assert (dec == bits).all(), (trial, h, w)


def test_vertical_and_pass_modes_roundtrip():
    """Shapes that force every mode: a drifting edge (vertical ±1..3), a
    vanishing run (pass), and a jump > 3 (horizontal mid-row)."""
    w = 64
    rows = []
    start = 10
    for dy in (0, 1, 2, 3, -3, -2, -1, 0):
        start += dy
        row = np.zeros(w, np.uint8)
        row[start:start + 12] = 1
        rows.append(row)
    rows.append(np.zeros(w, np.uint8))          # run vanishes -> pass
    jump = np.zeros(w, np.uint8)
    jump[40:50] = 1                             # far from previous -> H
    rows.append(jump)
    bits = np.stack(rows)
    assert (g4_decode(g4_encode(bits), w, bits.shape[0]) == bits).all()


def test_long_runs_use_makeup_chain():
    """Runs past 2560 need repeated extended makeup codes."""
    w = 9000
    bits = np.zeros((2, w), np.uint8)
    bits[0, 3:8997] = 1
    bits[1, :] = 1
    assert (g4_decode(g4_encode(bits), w, 2) == bits).all()


def test_corrupt_streams_raise_not_hang():
    bits = np.zeros((4, 40), np.uint8)
    bits[1, 5:20] = 1
    enc = g4_encode(bits)
    # truncations and bit flips either decode (harmlessly) or raise —
    # never loop; decoded output is always exactly the declared shape
    rng = np.random.default_rng(11)
    for _ in range(60):
        b = bytearray(enc)
        if rng.random() < 0.5 and len(b) > 2:
            b = b[: int(rng.integers(1, len(b)))]
        else:
            b[int(rng.integers(0, len(b)))] ^= 1 << int(rng.integers(0, 8))
        try:
            out = g4_decode(bytes(b), 40, 4)
            assert out.shape == (4, 40)
        except ValueError:
            pass
    # declared height beyond the coded rows raises (stream ends early)
    with pytest.raises(ValueError):
        g4_decode(enc, 40, 400)


def test_g4_tiff_roundtrip_and_size():
    img = np.full((60, 90), 255, np.uint8)
    img[10:20, 5:40] = 0
    img[30:31, :] = 0
    data = encode_gray_tiff(img, "g4")
    (got,) = decode_gray_tiff(data)
    assert (got == np.where(img < 128, 0, 255)).all()
    # the point of G4: an order of magnitude under the raw raster
    assert len(data) < len(encode_gray_tiff(img, "none")) / 10


def test_g4_tiff_multipage_and_orientation():
    img = np.full((50, 70), 255, np.uint8)
    img[5:12, 10:60] = 0
    pages = decode_gray_tiff(encode_gray_tiff([img, 255 - img], "g4"))
    assert len(pages) == 2
    assert (pages[0] == img).all()
    assert (pages[1] == np.where(img >= 128, 0, 255)).all()
    rot = encode_gray_tiff(np.ascontiguousarray(np.rot90(img)), "g4",
                           orientation=6)
    (up,) = decode_gray_tiff(rot)
    assert (up == img).all()


def test_g4_multistrip_reference_line_resets():
    """Strips are independent T.6 blocks: build a 2-strip file by hand
    (RowsPerStrip=4 over 8 rows) and check the decoder stitches them."""
    import struct

    rng = np.random.default_rng(5)
    bits = (rng.random((8, 33)) < 0.2).astype(np.uint8)
    s1 = g4_encode(bits[:4])
    s2 = g4_encode(bits[4:])
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    o1 = len(out)
    out += s1
    o2 = len(out)
    out += s2
    if len(out) % 2:
        out += b"\x00"
    # StripOffsets/ByteCounts arrays (2 longs each) stored out of line
    offs_pos = len(out)
    out += struct.pack("<II", o1, o2)
    cnts_pos = len(out)
    out += struct.pack("<II", len(s1), len(s2))
    ifd = len(out)
    struct.pack_into("<I", out, 4, ifd)
    entries = [
        (256, 4, 1, 33), (257, 4, 1, 8), (258, 3, 1, 1), (259, 3, 1, 4),
        (262, 3, 1, 0), (273, 4, 2, offs_pos), (277, 3, 1, 1),
        (278, 4, 1, 4), (279, 4, 2, cnts_pos),
    ]
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        out += struct.pack("<HHI", tag, typ, count)
        out += struct.pack("<I", value)
    out += struct.pack("<I", 0)
    (got,) = decode_gray_tiff(bytes(out))
    assert (got == np.where(bits == 1, 0, 255)).all()


def test_g4_rejects_non_bilevel_and_color_input():
    with pytest.raises(ValueError):
        encode_gray_tiff(np.zeros((4, 4, 3), np.uint8), "g4")


def test_codec_dispatch_g4():
    from sparkstract.functions.codecs import decode_pages

    img = np.full((40, 50), 255, np.uint8)
    img[8:16, 4:30] = 0
    (got,) = decode_pages(encode_gray_tiff(img, "g4"))
    assert (got == img).all()


# ------------------------------------------------------- Group 3 family


def test_mh_roundtrip_fuzz():
    from sparkstract.fixtures.encoders.ccitt import mh_encode
    from sparkstract.functions.ccitt import mh_decode

    rng = np.random.default_rng(21)
    for trial in range(80):
        h = int(rng.integers(1, 16))
        w = int(rng.integers(1, 150))
        dens = [0.5, 0.05, 0.95, 0.0][trial % 4]
        bits = (rng.random((h, w)) < dens).astype(np.uint8)
        assert (mh_decode(mh_encode(bits), w, h) == bits).all(), trial


def test_mh_rows_are_byte_aligned():
    """TIFF compression 2 requires every row to start on a byte boundary;
    a single-pixel row still occupies whole bytes."""
    from sparkstract.fixtures.encoders.ccitt import mh_encode

    bits = np.ones((5, 1), np.uint8)
    enc = mh_encode(bits)
    one_row = mh_encode(bits[:1])
    assert len(enc) == 5 * len(one_row)


def test_g3_roundtrip_and_eol_sync():
    from sparkstract.fixtures.encoders.ccitt import g3_encode
    from sparkstract.functions.ccitt import g3_decode

    rng = np.random.default_rng(23)
    bits = (rng.random((12, 90)) < 0.2).astype(np.uint8)
    enc = g3_encode(bits)
    assert (g3_decode(enc, 90, 12) == bits).all()
    # leading fill bits before the first EOL must be skipped
    assert (g3_decode(b"\x00" + enc, 90, 12) == bits).all()
    with pytest.raises(ValueError):
        g3_decode(enc, 90, 13)          # more rows declared than coded


def test_g3_two_d_rows_decode_against_previous():
    """Hand-built T.4-2D stream: EOL+tag1 1D row, then EOL+tag0 2D row
    coded as two V(+1) modes and a terminating V0."""
    from sparkstract.functions.bits import MsbWriter
    from sparkstract.fixtures.encoders.ccitt import (
        _EOL, _changes, _emit, _emit_run,
    )
    from sparkstract.functions.ccitt import g3_decode

    bits = np.zeros((2, 40), np.uint8)
    bits[0, 10:20] = 1
    bits[1, 11:21] = 1
    bw = MsbWriter()
    _emit(bw, _EOL)
    _emit(bw, "1")
    pos, color = 0, 0
    for nxt in _changes(bits[0]) + [40]:
        _emit_run(bw, nxt - pos, color)
        pos, color = nxt, color ^ 1
        if pos >= 40:
            break
    _emit(bw, _EOL)
    _emit(bw, "0")
    _emit(bw, "011")                    # V(+1): change at 11 vs b1=10
    _emit(bw, "011")                    # V(+1): change at 21 vs b1=20
    _emit(bw, "1")                      # V0 at w terminates the row
    assert (g3_decode(bw.bytes(), 40, 2, two_d=True) == bits).all()


def test_mh_g3_tiff_roundtrip():
    img = np.full((50, 80), 255, np.uint8)
    img[10:18, 5:60] = 0
    img[30, ::3] = 0
    exp = np.where(img < 128, 0, 255)
    for comp in ("mh", "g3"):
        (got,) = decode_gray_tiff(encode_gray_tiff(img, comp))
        assert (got == exp).all(), comp


def test_g3_2d_tiff_with_t4options():
    """A compression-3 file carrying T4Options bit 0 (2D) decodes the
    tagged rows against the previous row."""
    import struct

    from sparkstract.functions.bits import MsbWriter
    from sparkstract.fixtures.encoders.ccitt import (
        _EOL, _changes, _emit, _emit_run,
    )

    bits = np.zeros((2, 24), np.uint8)
    bits[0, 4:9] = 1
    bits[1, 5:10] = 1
    bw = MsbWriter()
    _emit(bw, _EOL)
    _emit(bw, "1")
    pos, color = 0, 0
    for nxt in _changes(bits[0]) + [24]:
        _emit_run(bw, nxt - pos, color)
        pos, color = nxt, color ^ 1
        if pos >= 24:
            break
    _emit(bw, _EOL)
    _emit(bw, "0")
    _emit(bw, "011")
    _emit(bw, "011")
    _emit(bw, "1")
    strip = bw.bytes()
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    strip_off = len(out)
    out += strip
    if len(out) % 2:
        out += b"\x00"
    ifd = len(out)
    struct.pack_into("<I", out, 4, ifd)
    entries = [
        (256, 4, 1, 24), (257, 4, 1, 2), (258, 3, 1, 1), (259, 3, 1, 3),
        (262, 3, 1, 0), (273, 4, 1, strip_off), (277, 3, 1, 1),
        (278, 4, 1, 2), (279, 4, 1, len(strip)), (292, 4, 1, 1),
    ]
    out += struct.pack("<H", len(entries))
    for tag, typ, count, value in entries:
        out += struct.pack("<HHI", tag, typ, count)
        out += struct.pack("<I", value)
    out += struct.pack("<I", 0)
    (got,) = decode_gray_tiff(bytes(out))
    assert (got == np.where(bits == 1, 0, 255)).all()


def test_inlined_g4_decode_equals_modular_row_decoder():
    """g4_decode is a fully inlined hot path; pin it bit-equal to the
    modular T.4-2D row decoder (_decode_row_2d) that mh/g3 use, across
    random densities and shapes."""
    from sparkstract.functions.ccitt import _decode_row_2d, _FaxBits, _fill_row

    rng = np.random.default_rng(31)
    for trial in range(60):
        h = int(rng.integers(1, 20))
        w = int(rng.integers(1, 160))
        dens = [0.4, 0.05, 0.9][trial % 3]
        bits = (rng.random((h, w)) < dens).astype(np.uint8)
        enc = g4_encode(bits)
        fast = g4_decode(enc, w, h)
        fb = _FaxBits(enc)
        ref: list = []
        slow = np.zeros((h, w), np.uint8)
        for y in range(h):
            cur = _decode_row_2d(fb, ref, w)
            _fill_row(slow[y], cur, w)
            ref = cur
        assert (fast == slow).all() and (fast == bits).all(), trial


def test_g3_missing_leading_eol_leniency():
    """libtiff tolerates compression-3 strips that omit the EOL before row
    0 (ADVICE r3): a 1D stream whose first row starts immediately must
    decode, with EOL syncing resuming from row 1."""
    from sparkstract.functions.bits import MsbWriter
    from sparkstract.fixtures.encoders.ccitt import _EOL
    from sparkstract.functions.ccitt import _TERM, g3_decode

    w = 8
    bw = MsbWriter()
    # row 0 WITHOUT the leading EOL: all-white (white run 8)
    bw.write(int(_TERM[0][8], 2), len(_TERM[0][8]))
    # row 1 with its EOL: 4 white, 4 black ink
    bw.write(int(_EOL, 2), len(_EOL))
    bw.write(int(_TERM[0][4], 2), len(_TERM[0][4]))
    bw.write(int(_TERM[1][4], 2), len(_TERM[1][4]))
    got = g3_decode(bw.bytes(), w, 2)
    assert (got == np.array([[0] * 8, [0, 0, 0, 0, 1, 1, 1, 1]])).all()
    # a spec-conforming stream (leading EOL) still decodes identically
    from sparkstract.fixtures.encoders.ccitt import g3_encode

    bits = (np.arange(24).reshape(3, 8) % 3 == 0).astype(np.uint8)
    assert (g3_decode(g3_encode(bits), 8, 3) == bits).all()
