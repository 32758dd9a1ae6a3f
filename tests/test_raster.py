"""PNM/BMP codecs, dispatch, and the music-staff mask."""

from __future__ import annotations

import numpy as np
import pytest

from sparkstract.functions.codecs import decode_gray_any, decode_pages
from sparkstract.fixtures.encoders.raster import (
    encode_gray_bmp,
    encode_gray_pnm,
)
from sparkstract.functions.raster import decode_gray_bmp, decode_gray_pnm


def _img(seed: int, h: int = 30, w: int = 45) -> np.ndarray:
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w), dtype=np.uint8)


def test_pnm_roundtrips():
    img = _img(1)
    assert (decode_gray_pnm(encode_gray_pnm(img, binary=True)) == img).all()
    assert (decode_gray_pnm(encode_gray_pnm(img, binary=False)) == img).all()


def test_pnm_comments_and_maxval():
    data = b"P5\n# a comment line\n3 2\n# another\n255\n" + bytes(range(6))
    out = decode_gray_pnm(data)
    assert out.shape == (2, 3) and out[1, 2] == 5
    # non-255 maxval rescales
    data = b"P2\n2 1\n100\n0 100\n"
    out = decode_gray_pnm(data)
    assert list(out[0]) == [0, 255]


def test_bmp_roundtrip_padding():
    # width not divisible by 4 exercises the row stride
    for w in (45, 46, 47, 48):
        img = _img(2, 10, w)
        assert (decode_gray_bmp(encode_gray_bmp(img)) == img).all()


def test_dispatch_all_formats():
    img = _img(3)
    assert (decode_gray_any(encode_gray_pnm(img)) == img).all()
    assert (decode_gray_any(encode_gray_bmp(img)) == img).all()
    with pytest.raises(ValueError, match="JPEG"):
        decode_pages(b"\xff\xd8\xff\xe0 fake jpeg")


def test_music_staff_mask():
    """pagesegmain.cpp:253: a tight 5-line staff (+ note dots) is ONE image
    region; a lone separator rule stays a horz_line."""
    from sparkstract.fixtures.render import PageSpec, Rule, StaffLines, Text, render_page
    from sparkstract.operators.page import analyse_page

    img, truth = render_page(PageSpec(elements=[
        Text(["FOX DOG CAT RUN"], col=0),
        StaffLines(n_lines=5, pitch_units=4, n_notes=4, col=0),
        Rule(col=0),
        Text(["END OF THE PAGE"], col=0),
    ], scale=2))
    got = [(b.kind, b.text) for b in analyse_page(img)]
    want = [(t.kind, t.text) for t in truth]
    assert got == want
    kinds = [k for k, _ in got]
    assert kinds.count("flowing_image") == 1  # the staff, once
    assert kinds.count("horz_line") == 1      # the lone rule survives


def test_pbm_p4_and_p1_bitmaps():
    from sparkstract.functions.raster import decode_gray_pnm

    # P4: 10x3, packed MSB-first; 1 = black ink
    import numpy as np
    rng = np.random.default_rng(71)
    bits = rng.integers(0, 2, (3, 10), dtype=np.uint8)
    packed = np.packbits(bits, axis=1)
    p4 = b"P4\n10 3\n" + packed.tobytes()
    want = np.where(bits == 1, 0, 255).astype(np.uint8)
    assert (decode_gray_pnm(p4) == want).all()
    body = "\n".join(" ".join(str(v) for v in row) for row in bits)
    p1 = f"P1\n# comment\n10 3\n{body}\n".encode()
    assert (decode_gray_pnm(p1) == want).all()


def test_ppm_p6_and_p3_luma():
    from sparkstract.functions.raster import decode_gray_pnm

    import numpy as np
    rng = np.random.default_rng(72)
    rgb = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    r, g, b = (rgb[..., i].astype(np.int32) for i in range(3))
    want = ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)
    p6 = b"P6\n5 4\n255\n" + rgb.tobytes()
    assert (decode_gray_pnm(p6) == want).all()
    body = " ".join(str(v) for v in rgb.reshape(-1))
    p3 = f"P3\n5 4\n255\n{body}\n".encode()
    assert (decode_gray_pnm(p3) == want).all()


def test_bmp_truecolor_24_and_32():
    import struct

    import numpy as np

    from sparkstract.functions.raster import decode_gray_bmp

    rng = np.random.default_rng(73)
    rgb = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    r, g, b = (rgb[..., i].astype(np.int32) for i in range(3))
    want = ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)
    for nb in (3, 4):
        stride = (5 * nb + 3) & ~3
        rows = np.zeros((6, stride), dtype=np.uint8)
        for y in range(6):
            for x in range(5):
                rows[5 - y, x * nb + 0] = rgb[y, x, 2]  # B
                rows[5 - y, x * nb + 1] = rgb[y, x, 1]  # G
                rows[5 - y, x * nb + 2] = rgb[y, x, 0]  # R
        data_off = 14 + 40
        size = data_off + rows.size
        hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_off)
        info = struct.pack("<IiiHHIIiiII", 40, 5, 6, 1, nb * 8, 0,
                           rows.size, 2835, 2835, 0, 0)
        got = decode_gray_bmp(hdr + info + rows.tobytes())
        assert (got == want).all(), nb


def test_codec_dispatch_new_pnm():
    import numpy as np

    from sparkstract.functions.codecs import decode_pages

    bits = np.zeros((4, 9), dtype=np.uint8)
    bits[1, 2] = 1
    p4 = b"P4\n9 4\n" + np.packbits(bits, axis=1).tobytes()
    (got,) = decode_pages(p4)
    assert got[1, 2] == 0 and got[0, 0] == 255


# ------------------------------------ BMP: RLE8 + sub-byte palette depths


def _mkbmp(w, h, bpp, comp, pal, body):
    import struct

    pal_b = b"".join(bytes([c, c, c, 0]) for c in pal)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                       len(body), 2835, 2835, len(pal), 0)
    off = 14 + 40 + len(pal_b)
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return hdr + info + pal_b + body


def test_bmp_rle8_runs_eol_eob():
    # bottom row: 4x index2; EOL; top row: 2x index1 + 2x index3; EOB
    body = bytes([4, 2, 0, 0, 2, 1, 2, 3, 0, 1])
    img = decode_gray_bmp(_mkbmp(4, 2, 8, 1, [0, 100, 200, 255], body))
    assert img.tolist() == [[100, 100, 255, 255], [200, 200, 200, 200]]


def test_bmp_rle8_absolute_and_delta():
    # literal run of 3 (word-padded), delta (1,1), then a run
    body = bytes([0, 3, 1, 2, 3, 0,   # absolute [1,2,3] + pad
                  0, 2, 1, 1,         # delta dx=1 dy=1
                  2, 1,               # run 2x index1
                  0, 1])              # end of bitmap
    img = decode_gray_bmp(_mkbmp(6, 2, 8, 1, [0, 60, 120, 180], body))
    assert img[1].tolist() == [60, 120, 180, 0, 0, 0]      # bottom row
    assert img[0].tolist() == [0, 0, 0, 0, 60, 60]          # after delta


def test_bmp_4bit_and_1bit_uncompressed():
    row = bytes([0x12, 0x30]) + b"\x00\x00"
    img = decode_gray_bmp(_mkbmp(3, 1, 4, 0, [0, 80, 160, 240]
                                 + [0] * 12, row))
    assert img.tolist() == [[80, 160, 240]]
    row = bytes([0b10100000]) + b"\x00\x00\x00"
    img = decode_gray_bmp(_mkbmp(4, 1, 1, 0, [0, 255], row))
    assert img.tolist() == [[255, 0, 255, 0]]


def test_bmp_colour_palette_uses_shared_luma():
    """A colored 8-bit palette decodes to the gray `raster.luma` gives its
    RGB pixels, as every other colour codec does; a gray palette stays
    the identity."""
    import struct

    import numpy as np

    from sparkstract.functions.raster import luma

    rng = np.random.default_rng(29)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)  # R, G, B
    idx = rng.permutation(256).astype(np.uint8).reshape(8, 32)
    body = idx[::-1].tobytes()  # bottom-up rows, 32 bytes: no padding
    pal_b = b"".join(bytes([b, g, r, 0]) for r, g, b in pal)
    info = struct.pack("<IiiHHIIiiII", 40, 32, 8, 1, 8, 0, len(body),
                       2835, 2835, 256, 0)
    off = 14 + 40 + len(pal_b)
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    got = decode_gray_bmp(hdr + info + pal_b + body)
    assert (got == luma(pal[idx])).all()
    gray = list(range(256))
    img = decode_gray_bmp(_mkbmp(256, 1, 8, 0, gray, bytes(gray)))
    assert img.tolist() == [gray]


def test_bmp_rle4_runs_absolute():
    # bottom row: run of 5 alternating nibbles (0xA,0x3) + absolute [1,2,3]
    # (word-padded); top row: run of 8 alternating (0xF,0x0)
    body = bytes([5, 0xA3, 0, 3, 0x12, 0x30, 0, 0,
                  8, 0xF0, 0, 0, 0, 1])
    img = decode_gray_bmp(_mkbmp(8, 2, 4, 2, [i * 17 for i in range(16)],
                                 body))
    assert img[1].tolist() == [v * 17 for v in
                               (0xA, 0x3, 0xA, 0x3, 0xA, 1, 2, 3)]
    assert img[0].tolist() == [v * 17 for v in (0xF, 0x0) * 4]


def test_bmp_16bit_default_555():
    import struct

    px = [[0x7C00, 0x03E0], [0x001F, 0x7FFF]]      # R,G / B,white
    rows = b"".join(struct.pack("<HH", *r) for r in px[::-1])
    img = decode_gray_bmp(_mkbmp(2, 2, 16, 0, [], rows))
    r8, g8, b8 = (77 * 255 + 128) >> 8, (150 * 255 + 128) >> 8, \
        (29 * 255 + 128) >> 8
    assert img.tolist() == [[r8, g8], [b8, 255]]


@pytest.mark.parametrize("bpp,masks,px", [
    (16, (0xF800, 0x07E0, 0x001F),
     (0xF800, 0x07E0, 0x001F, 0xFFFF)),            # 565
    (32, (0x00FF0000, 0x0000FF00, 0x000000FF),
     (0x00FF0000, 0x0000FF00, 0x000000FF, 0x00FFFFFF)),  # 8888
])
def test_bmp_bitfields(bpp, masks, px):
    import struct

    fmt = "<H" if bpp == 16 else "<I"
    rows = b"".join(struct.pack(fmt, v) for v in (px[2], px[3], px[0], px[1]))
    if bpp == 16:
        rows = rows[:4] + b"" + rows[4:]           # stride already 4-aligned
    data = _mkbmp(2, 2, bpp, 3, [], rows)
    # splice the three mask DWORDs between the info header and the body
    data = data[:54] + struct.pack("<III", *masks) + data[54:]
    # data offset moved by 12
    off = int.from_bytes(data[10:14], "little") + 12
    data = data[:10] + off.to_bytes(4, "little") + data[14:]
    img = decode_gray_bmp(data)
    r8, g8, b8 = (77 * 255 + 128) >> 8, (150 * 255 + 128) >> 8, \
        (29 * 255 + 128) >> 8
    assert img.tolist() == [[r8, g8], [b8, 255]]


def test_bmp_overlapping_masks_rejected():
    import struct

    rows = struct.pack("<HH", 0, 0) + struct.pack("<HH", 0, 0)
    data = _mkbmp(2, 2, 16, 3, [], rows)
    data = data[:54] + struct.pack("<III", 0xF800, 0xFC00, 0x1F) + data[54:]
    off = int.from_bytes(data[10:14], "little") + 12
    data = data[:10] + off.to_bytes(4, "little") + data[14:]
    with pytest.raises(ValueError, match="overlap"):
        decode_gray_bmp(data)


def test_bmp_palette_index_out_of_range():
    body = bytes([1, 9, 0, 1])  # index 9 with a 2-entry palette
    with pytest.raises(ValueError, match="palette index"):
        decode_gray_bmp(_mkbmp(1, 1, 8, 1, [0, 255], body))


def test_pnm_16bit_samples():
    """maxval > 255 PGM/PPM: two-byte BIG-endian samples scaled to 8-bit
    (Netpbm pgm(5)); previously a named error."""
    from sparkstract.functions.raster import decode_gray_pnm

    img16 = (np.arange(12, dtype=np.uint16).reshape(3, 4) * 5000)
    header = b"P5 4 3 65535\n"
    out = decode_gray_pnm(header + img16.astype(">u2").tobytes())
    exp = np.clip(np.rint(img16.astype(np.float64) * 255.0 / 65535),
                  0, 255).astype(np.uint8)
    assert np.array_equal(out, exp)
    # 16-bit PPM collapses through the same BT.601 luma as 8-bit
    rgb = np.zeros((2, 2, 3), np.uint16)
    rgb[..., 1] = 65535           # pure green
    out = decode_gray_pnm(b"P6 2 2 65535\n" + rgb.astype(">u2").tobytes())
    assert (out == 149).all()     # (150*255 + 128) >> 8 = 149


def test_pnm_16bit_truncated_raises():
    from sparkstract.functions.raster import decode_gray_pnm

    with pytest.raises(ValueError, match="truncated"):
        decode_gray_pnm(b"P5 4 3 65535\n" + b"\x00" * 10)


# ------------------------------------------------------------- ICO/CUR


def test_ico_all_entry_shapes_roundtrip():
    from sparkstract.functions.codecs import decode_gray_any
    from sparkstract.fixtures.encoders.raster import encode_gray_ico

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (48, 64)).astype(np.uint8)
    for kind in ("dib32", "dib32mask", "pal8", "png"):
        data = encode_gray_ico(img, entry=kind, decoys=2)
        out = decode_gray_any(data)
        assert out.shape == img.shape and (out == img).all(), kind


def test_ico_and_mask_composites_white():
    from sparkstract.fixtures.encoders.raster import encode_gray_ico
    from sparkstract.functions.raster import decode_gray_ico

    rng = np.random.default_rng(7)
    img = rng.integers(0, 200, (48, 64)).astype(np.uint8)
    d = bytearray(encode_gray_ico(img, entry="dib32mask"))
    moff = 22 + 40 + 48 * 64 * 4      # dir + header + BGRA raster
    d[moff] = 0x80                    # bottom row, leftmost pixel
    out = decode_gray_ico(bytes(d))
    assert out[47, 0] == 255
    assert out[0, 0] == img[0, 0]


def test_ico_alpha_channel_wins_over_mask():
    """A 32-bit entry with live alpha uses it (the empty-AND-mask shape
    modern editors write)."""
    from sparkstract.fixtures.encoders.raster import encode_gray_ico
    from sparkstract.functions.raster import decode_gray_ico

    img = np.full((8, 8), 0, np.uint8)
    d = bytearray(encode_gray_ico(img, entry="dib32"))
    # halve the alpha of the bottom-left pixel: gray 0 over white at
    # alpha 128 -> 127
    aoff = 22 + 40 + 3                # first raster row = bottom row
    d[aoff] = 128
    out = decode_gray_ico(bytes(d))
    assert out[7, 0] == 127


def test_ico_fuzz_never_hangs():
    from sparkstract.fixtures.encoders.raster import encode_gray_ico
    from sparkstract.functions.raster import decode_gray_ico

    rng = np.random.default_rng(11)
    base = bytearray(encode_gray_ico(
        rng.integers(0, 256, (16, 16)).astype(np.uint8), decoys=1))
    for _ in range(400):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 8))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            decode_gray_ico(bytes(enc))
        except Exception:
            pass
