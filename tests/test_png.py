from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkstract.functions.png import decode_gray, encode_gray


def test_roundtrip_small():
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    assert (decode_gray(encode_gray(img)) == img).all()


def test_roundtrip_page_like():
    rng = np.random.default_rng(0)
    img = (rng.random((200, 300)) * 255).astype(np.uint8)
    out = decode_gray(encode_gray(img))
    assert out.shape == img.shape
    assert (out == img).all()


def test_rejects_garbage():
    with pytest.raises(ValueError):
        decode_gray(b"not a png at all")


@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2**32 - 1))
@settings(max_examples=20, deadline=None)
def test_roundtrip_property(h, w, seed):
    rng = np.random.default_rng(seed)
    img = (rng.random((h, w)) * 255).astype(np.uint8)
    assert (decode_gray(encode_gray(img)) == img).all()


# ------------------------------------------------------------ color support


def _filtered_png(img: np.ndarray, color: int, filters: list[int],
                  plte: bytes | None = None) -> bytes:
    """Hand-build a PNG whose scanline y uses filter filters[y] — exercises
    the decoder's defilter paths at any bytes-per-pixel."""
    import struct
    import zlib

    from sparkstract.functions.png import _SIG, _chunk

    h = img.shape[0]
    nsamp = 1 if img.ndim == 2 else img.shape[2]
    w = img.shape[1]
    flat = img.reshape(h, w * nsamp).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(w * nsamp, dtype=np.int32)
    bpp = nsamp
    for y, f in zip(range(h), filters):
        row = flat[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
        if f == 0:
            enc = row
        elif f == 1:
            enc = row - left
        elif f == 2:
            enc = row - prev
        elif f == 3:
            enc = row - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = row - pred
        raw.append(f)
        raw += (enc & 0xFF).astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = _SIG + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")


def _luma_ref(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.int32) for i in range(3))
    return ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)


def test_rgb_roundtrip_luma():
    from sparkstract.fixtures.encoders.png import encode_rgb

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (40, 60, 3), dtype=np.uint8)
    assert (decode_gray(encode_rgb(img)) == _luma_ref(img)).all()


def test_all_filters_rgb_bpp3():
    """Sub/Up/Average/Paeth at bytes-per-pixel 3: the left neighbour is 3
    bytes back, not 1 — a bpp bug shifts every color plane."""
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (5, 17, 3), dtype=np.uint8)
    png = _filtered_png(img, color=2, filters=[0, 1, 2, 3, 4])
    assert (decode_gray(png) == _luma_ref(img)).all()


def test_all_filters_gray_bpp1():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (5, 23), dtype=np.uint8)
    png = _filtered_png(img, color=0, filters=[4, 3, 2, 1, 0])
    assert (decode_gray(png) == img).all()


def test_palette_png():
    rng = np.random.default_rng(6)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (9, 13), dtype=np.uint8)
    png = _filtered_png(idx, color=3, filters=[0] * 9, plte=pal.tobytes())
    assert (decode_gray(png) == _luma_ref(pal[idx])).all()


def test_palette_index_out_of_range_raises():
    pal = np.zeros((4, 3), dtype=np.uint8)
    idx = np.full((2, 2), 7, dtype=np.uint8)
    png = _filtered_png(idx, color=3, filters=[0, 0], plte=pal.tobytes())
    with pytest.raises(ValueError, match="palette index"):
        decode_gray(png)


def test_gray_alpha_and_rgba_drop_alpha():
    rng = np.random.default_rng(7)
    ga = rng.integers(0, 256, (6, 8, 2), dtype=np.uint8)
    png = _filtered_png(ga, color=4, filters=[0, 1, 2, 3, 4, 1])
    assert (decode_gray(png) == ga[:, :, 0]).all()
    rgba = rng.integers(0, 256, (6, 8, 4), dtype=np.uint8)
    png = _filtered_png(rgba, color=6, filters=[4, 4, 4, 4, 4, 4])
    assert (decode_gray(png) == _luma_ref(rgba[..., :3])).all()


def test_16bit_gray_high_byte():
    import struct
    import zlib

    from sparkstract.functions.png import _SIG, _chunk

    rng = np.random.default_rng(8)
    img16 = rng.integers(0, 65536, (4, 6), dtype=np.uint16)
    raw = bytearray()
    for y in range(4):
        raw.append(0)
        raw += img16[y].astype(">u2").tobytes()
    ihdr = struct.pack(">IIBBBBB", 6, 4, 16, 0, 0, 0, 0)
    png = (_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b""))
    assert (decode_gray(png) == (img16 >> 8).astype(np.uint8)).all()


def test_bad_interlace_method_rejected():
    # Adam7 now DECODES (tests below); only unknown methods are errors
    import struct
    import zlib

    from sparkstract.functions.png import _SIG, _chunk

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 2)  # method 2: bogus
    png = (_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="interlace method"):
        decode_gray(png)


# ------------------------------------------------------- Adam7 interlace


def test_adam7_stencil_matches_spec_figure():
    from sparkstract.functions.png import _ADAM7

    grid = np.zeros((8, 8), int)
    for i, (x0, y0, dx, dy) in enumerate(_ADAM7, 1):
        sub = grid[y0::dy, x0::dx]
        sub[sub == 0] = i
    spec = np.array([
        [1, 6, 4, 6, 2, 6, 4, 6], [7] * 8,
        [5, 6, 5, 6, 5, 6, 5, 6], [7] * 8,
        [3, 6, 4, 6, 3, 6, 4, 6], [7] * 8,
        [5, 6, 5, 6, 5, 6, 5, 6], [7] * 8])
    assert (grid == spec).all()


def test_adam7_roundtrip_many_sizes():
    rng = np.random.default_rng(13)
    for h, w in [(1, 1), (1, 9), (9, 1), (7, 7), (8, 8), (37, 53),
                 (3, 2), (2, 3), (16, 5), (5, 16)]:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        got = decode_gray(encode_gray(img, interlace=True))
        assert (got == img).all(), (h, w)


def test_adam7_filters_reference_pass_rows():
    """Hand-built interlaced PNG whose pass scanlines use Up/Sub filters:
    the defilter must reference the PASS's previous row, never the full
    image's — a decoder that deinterlaces before defiltering gets this
    wrong."""
    import struct
    import zlib

    from sparkstract.functions.png import _ADAM7, _SIG, _adam7_dims, _chunk

    rng = np.random.default_rng(14)
    img = rng.integers(0, 256, (10, 10), dtype=np.uint8)
    parts = []
    for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(10, 10)):
        if pw == 0 or ph == 0:
            continue
        sub = img[y0::dy, x0::dx].astype(np.int64)
        for y in range(ph):
            if y == 0:
                # Sub filter on the pass's first row
                row = sub[0].copy()
                row[1:] = (row[1:] - row[:-1]) % 256
                parts.append(b"\x01" + bytes(row.astype(np.uint8)))
            else:
                # Up filter against the pass's previous row
                row = (sub[y] - sub[y - 1]) % 256
                parts.append(b"\x02" + bytes(row.astype(np.uint8)))
    ihdr = struct.pack(">IIBBBBB", 10, 10, 8, 0, 0, 0, 1)
    data = (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
            + _chunk(b"IEND", b""))
    assert (decode_gray(data) == img).all()


def test_adam7_truncated_raster_raises():
    img = np.zeros((16, 16), dtype=np.uint8)
    data = bytearray(encode_gray(img, interlace=True))
    # shrink the IDAT payload: re-deflate fewer bytes
    import struct
    import zlib

    from sparkstract.functions.png import _SIG, _chunk

    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 1)
    short = zlib.compress(b"\x00" * 40)   # far fewer than the passes need
    bad = (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", short)
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="truncated interlaced"):
        decode_gray(bad)


# --------------------------------------------------- sub-byte bit depths


def _chunk(tag, body):
    import struct
    import zlib

    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body)))


def _make_png(w, h, depth, color, rows, plte=None):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
    raw = b"".join(b"\x00" + r for r in rows)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte)
    return out + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def test_png_1bit_gray():
    # 10 samples across 2 bytes, MSB-first, row byte-padded (spec §7.2)
    png = _make_png(10, 2, 1, 0, [bytes([0b10101010, 0b10000000])] * 2)
    out = decode_gray(png)
    assert out.shape == (2, 10)
    assert out[0].tolist() == [255, 0] * 5


def test_png_2bit_and_4bit_gray_scaling():
    # §13.12: samples scale to full range by 255/(2^d - 1)
    png = _make_png(4, 1, 2, 0, [bytes([0b00011011])])
    assert decode_gray(png)[0].tolist() == [0, 85, 170, 255]
    png = _make_png(2, 1, 4, 0, [bytes([0x0F])])
    assert decode_gray(png)[0].tolist() == [0, 255]


def test_png_4bit_palette():
    plte = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    png = _make_png(3, 1, 4, 3, [bytes([0x01, 0x20])], plte)
    from sparkstract.functions.raster import luma

    out = decode_gray(png)
    idx = np.array([[0, 1, 2]])
    exp = luma(np.frombuffer(plte, np.uint8).reshape(4, 3)[idx])
    assert np.array_equal(out, exp)


def test_png_subbyte_filtered_rows():
    # filter type 2 (Up) on bit-packed rows: filtering is byte-wise
    import struct
    import zlib

    w, h = 8, 3
    rows = [bytes([0b11001100]), bytes([0b10101010]), bytes([0b11110000])]
    raw = b"\x00" + rows[0]
    raw += b"\x02" + bytes([rows[1][0] ^ 0 | ((rows[1][0] - rows[0][0]) & 0xFF)])
    raw = b"\x00" + rows[0] + b"\x02" + bytes([(rows[1][0] - rows[0][0]) & 0xFF]) \
        + b"\x02" + bytes([(rows[2][0] - rows[1][0]) & 0xFF])
    ihdr = struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    out = decode_gray(png)
    exp = np.unpackbits(np.frombuffer(b"".join(rows), np.uint8)
                        .reshape(3, 1), axis=1) * 255
    assert np.array_equal(out, exp)


def test_png_subbyte_palette_index_out_of_range():
    plte = bytes([0, 0, 0, 255, 255, 255])  # 2 entries
    png = _make_png(2, 1, 4, 3, [bytes([0x05])], plte)
    with pytest.raises(ValueError, match="palette index"):
        decode_gray(png)


def test_png_subbyte_interlaced():
    """Adam7 at sub-byte depths: each pass bit-packs to ITS OWN byte-
    padded stride and defilters independently (the named error is gone).
    Built by hand against a reference scatter."""
    import struct
    import zlib

    rng = np.random.default_rng(41)
    for depth in (1, 2, 4):
        w, h = 13, 11
        samples = rng.integers(0, 1 << depth, (h, w)).astype(np.uint8)
        from sparkstract.functions.png import _ADAM7, _adam7_dims

        parts = []
        for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(w, h)):
            if pw == 0 or ph == 0:
                continue
            sub = samples[y0::dy, x0::dx]
            stride = (pw * depth + 7) // 8
            for y in range(ph):
                rowbits = np.zeros(stride * 8, np.uint8)
                for x in range(pw):
                    v = int(sub[y, x])
                    for b in range(depth):
                        rowbits[x * depth + b] = (v >> (depth - 1 - b)) & 1
                parts.append(b"\x00" + np.packbits(rowbits).tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 1)
        png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
               + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
               + _chunk(b"IEND", b""))
        out = decode_gray(png)
        exp = (samples.astype(np.uint16)
               * (255 // ((1 << depth) - 1))).astype(np.uint8)
        assert np.array_equal(out, exp), depth


def test_png_subbyte_interlaced_up_filter():
    """A pass scanline carrying an Up filter (2) defilters against the
    PASS's previous row at byte distance."""
    import struct
    import zlib

    # 4-bit, 9x9: pass 1 is 2x2 — second row Up-filtered
    w = h = 9
    depth = 4
    samples = np.arange(81, dtype=np.uint8).reshape(9, 9) % 16
    from sparkstract.functions.png import _ADAM7, _adam7_dims

    parts = []
    for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7, _adam7_dims(w, h)):
        if pw == 0 or ph == 0:
            continue
        sub = samples[y0::dy, x0::dx]
        stride = (pw * depth + 7) // 8
        packed = []
        for y in range(ph):
            rowbits = np.zeros(stride * 8, np.uint8)
            for x in range(pw):
                v = int(sub[y, x])
                for b in range(depth):
                    rowbits[x * depth + b] = (v >> (depth - 1 - b)) & 1
            packed.append(np.packbits(rowbits))
        for y, row in enumerate(packed):
            if y > 0:
                delta = (row.astype(np.int16)
                         - packed[y - 1].astype(np.int16)) & 0xFF
                parts.append(b"\x02" + delta.astype(np.uint8).tobytes())
            else:
                parts.append(b"\x00" + row.tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 1)
    png = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"".join(parts)))
           + _chunk(b"IEND", b""))
    out = decode_gray(png)
    exp = (samples.astype(np.uint16) * 17).astype(np.uint8)
    assert np.array_equal(out, exp)
