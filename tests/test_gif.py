"""functions/gif.py — LSB-first GIF-LZW, palettes, interlace, compositing."""

import numpy as np
import pytest

from sparkstract.functions.bits import lzw_decode, lzw_encode
from sparkstract.fixtures.encoders.gif import encode_gif
from sparkstract.functions.gif import decode_gray_gif


def _luma_ref(rgb):
    r, g, b = (rgb[..., i].astype(np.int32) for i in range(3))
    return ((77 * r + 150 * g + 29 * b + 128) >> 8).astype(np.uint8)


def test_lzw_roundtrip_and_width_growth():
    rng = np.random.default_rng(31)
    cases = [b"", b"\x00", b"ABABABAB" * 40,
             bytes(rng.integers(0, 256, 6000, dtype=np.uint8)),
             bytes(rng.integers(0, 4, 9000, dtype=np.uint8))]
    for raw in cases:
        for mcs in (2, 4, 8):
            src = bytes(c % (1 << mcs) for c in raw)
            enc = lzw_encode(src, early=0, lsb=True, min_bits=mcs)
            assert lzw_decode(enc, early=0, lsb=True, min_bits=mcs) == src


def test_gray_palette_roundtrip():
    rng = np.random.default_rng(32)
    img = rng.integers(0, 256, (33, 47), dtype=np.uint8)
    (got,) = decode_gray_gif(encode_gif(img))
    # default palette is (v,v,v) → luma((v,v,v)) == v exactly
    assert (got == img).all()


def test_color_palette_luma():
    rng = np.random.default_rng(33)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (21, 17), dtype=np.uint8)
    (got,) = decode_gray_gif(encode_gif(idx, palette=pal))
    assert (got == _luma_ref(pal[idx])).all()


def test_interlaced_rows_deinterlace():
    rng = np.random.default_rng(34)
    img = rng.integers(0, 256, (13, 9), dtype=np.uint8)
    (got,) = decode_gray_gif(encode_gif(img, interlace=True))
    assert (got == img).all()


def test_multiframe_pages():
    rng = np.random.default_rng(35)
    a = rng.integers(0, 256, (10, 12), dtype=np.uint8)
    b = rng.integers(0, 256, (10, 12), dtype=np.uint8)
    pages = decode_gray_gif(encode_gif([a, b]))
    assert len(pages) == 2
    assert (pages[0] == a).all() and (pages[1] == b).all()


def test_partial_frame_composites_and_transparency():
    """Hand-built stream: frame 2 is a 2x3 patch at (1,1) with index 0
    transparent — untouched canvas pixels and transparent pixels keep
    frame 1's values."""
    base = np.full((5, 6), 10, dtype=np.uint8)
    gif = bytearray(encode_gif(base))
    assert gif[-1] == 0x3B
    patch = np.array([[0, 200, 0], [201, 0, 202]], dtype=np.uint8)
    add = bytearray()
    add += b"\x21\xf9\x04\x01\x00\x00\x00\x00"  # GCE: transparent idx 0
    import struct

    add += struct.pack("<BHHHHB", 0x2C, 1, 1, 3, 2, 0)
    add.append(8)
    data = lzw_encode(patch.tobytes(), early=0, lsb=True, min_bits=8)
    add.append(len(data))
    add += data
    add.append(0)
    out = bytes(gif[:-1]) + bytes(add) + b"\x3b"
    pages = decode_gray_gif(out)
    assert len(pages) == 2
    want = base.copy()
    want[1, 2] = 200
    want[2, 1] = 201
    want[2, 3] = 202
    assert (pages[1] == want).all()
    assert (pages[0] == base).all()


def test_codec_dispatch():
    from sparkstract.functions.codecs import decode_pages

    img = np.full((8, 8), 55, dtype=np.uint8)
    (got,) = decode_pages(encode_gif(img))
    assert (got == img).all()


def test_fuzz_corrupt_gif_never_hangs():
    rng = np.random.default_rng(36)
    img = (np.outer(np.arange(16), np.arange(16)) % 200).astype(np.uint8)
    base = bytearray(encode_gif([img, img]))
    for _ in range(1500):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 8))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            decode_gray_gif(bytes(enc))
        except Exception:
            pass


def test_rejects_garbage():
    with pytest.raises(ValueError):
        decode_gray_gif(b"not a gif")


def test_oversized_header_rejected_before_allocation():
    import struct

    hdr = bytearray(b"GIF89a")
    hdr += struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
    hdr += b"\x3b"
    with pytest.raises(ValueError, match="too large"):
        decode_gray_gif(bytes(hdr))
