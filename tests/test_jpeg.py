"""Baseline JPEG codec: roundtrip fidelity, restart/color paths, seam errors.

Reference contract: SetImage accepts any Leptonica-readable raster
(/root/reference/src/api/baseapi.cpp:881,906); JPEG is the one mainstream
format the container has no library for, so the codec is from scratch and
these tests are its only ground truth.
"""

import numpy as np
import pytest

from sparkstract.functions.codecs import decode_pages
from sparkstract.fixtures.encoders.jpeg import (
    _AC_BITS,
    _AC_VALS,
    _DC_BITS,
    _DC_VALS,
    encode_gray_jpeg,
)
from sparkstract.functions.jpeg import (
    _BitReader,
    _decode_table,
    _huff,
    decode_gray_jpeg,
)


def _gradient(h=37, w=53, seed=0):
    rng = np.random.default_rng(seed)
    img = np.cumsum(rng.normal(0, 8, (h, w)), axis=1) + 128
    return np.clip(img, 0, 255).astype(np.uint8)


def test_roundtrip_gradient_quality():
    img = _gradient()
    prev_err = None
    for q in (95, 75, 50):
        dec = decode_gray_jpeg(encode_gray_jpeg(img, quality=q))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        err = float(np.abs(dec.astype(int) - img.astype(int)).mean())
        assert err < 8.0
        if prev_err is not None:
            assert err >= prev_err - 0.5  # lower quality, no better error
        prev_err = err


def test_roundtrip_bilevel_text_separable():
    """Glyph-shaped bilevel content must survive q95 Otsu-separably — the
    property the jpeg_page fixture family relies on."""
    img = np.full((40, 64), 255, np.uint8)
    img[8:12, 4:60] = 0
    img[20:33, 10:14] = 0
    dec = decode_gray_jpeg(encode_gray_jpeg(img, quality=95))
    assert ((dec < 128) == (img < 128)).all()


def test_non_multiple_of_8_dims():
    img = _gradient(17, 23, seed=3)
    dec = decode_gray_jpeg(encode_gray_jpeg(img, quality=90))
    assert dec.shape == (17, 23)


def test_restart_markers():
    img = _gradient(40, 48, seed=1)
    plain = decode_gray_jpeg(encode_gray_jpeg(img, quality=90))
    enc = encode_gray_jpeg(img, quality=90, restart_interval=3)
    assert b"\xff\xd0" in enc or b"\xff\xd1" in enc
    assert np.array_equal(decode_gray_jpeg(enc), plain)


def test_color_stream_decodes_luma():
    img = _gradient(24, 32, seed=2)
    gray = decode_gray_jpeg(encode_gray_jpeg(img, quality=90))
    color = decode_gray_jpeg(encode_gray_jpeg(img, quality=90, color=True))
    # same luma data, constant chroma: identical reconstruction
    assert np.array_equal(color, gray)


def test_codec_dispatch():
    img = _gradient(16, 16)
    pages = decode_pages(encode_gray_jpeg(img, quality=95))
    assert len(pages) == 1 and pages[0].shape == (16, 16)


def test_lossless_sof_named_error():
    enc = bytearray(encode_gray_jpeg(_gradient(16, 16), quality=90))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC3  # rewrite SOF0 -> SOF3 (lossless)
    with pytest.raises(ValueError, match="SOF3"):
        decode_gray_jpeg(bytes(enc))


def test_truncated_raises():
    enc = encode_gray_jpeg(_gradient(32, 32), quality=90)
    with pytest.raises(ValueError):
        decode_gray_jpeg(enc[: len(enc) // 2])


def test_bad_magic_raises():
    with pytest.raises(ValueError):
        decode_gray_jpeg(b"\x00\x01\x02\x03")


def test_oversized_dims_guarded():
    """A corrupt SOF must fail fast, not allocate a multi-GB buffer
    (CheckAndReportIfImageTooLarge, baseapi.cpp:354)."""
    enc = bytearray(encode_gray_jpeg(_gradient(16, 16), quality=90))
    i = enc.find(b"\xff\xc0")
    enc[i + 5 : i + 9] = (60000).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="too large"):
        decode_gray_jpeg(bytes(enc))


def test_decoder_total_on_mutations():
    """Byte-flipped streams must terminate promptly — either decode or
    raise; the pipeline's decode-failure isolation handles the rest."""
    rng = np.random.default_rng(11)
    img = _gradient(24, 24, seed=5)
    base = bytearray(encode_gray_jpeg(img, quality=85))
    for _ in range(200):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 8))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            out = decode_gray_jpeg(bytes(enc))
            assert out.dtype == np.uint8
        except Exception:
            pass  # corrupt media is data, not a bug


def test_sixteen_bit_quant_table_read():
    """DQT with Pq=1 (16-bit entries) must parse — external encoders use
    it at very high quality."""
    enc = bytearray(encode_gray_jpeg(_gradient(16, 16), quality=90))
    i = enc.find(b"\xff\xdb")
    ln = int.from_bytes(enc[i + 2 : i + 4], "big")
    body = enc[i + 5 : i + 4 + ln - 2]  # 64 8-bit entries
    wide = b"".join(int(b).to_bytes(2, "big") for b in body)
    seg = b"\xff\xdb" + (2 + 1 + 128).to_bytes(2, "big") + b"\x10" + wide
    patched = bytes(enc[:i]) + seg + bytes(enc[i + 4 + ln - 2 :])
    assert np.array_equal(decode_gray_jpeg(patched),
                          decode_gray_jpeg(bytes(enc)))


def test_exif_orientation_app1_roundtrip():
    """APP1 Exif Orientation: the tagged decode equals the untagged decode
    put through the same transform (exact equality — identical DCT data,
    the tag only adds the upright step)."""
    from sparkstract.functions.raster import apply_exif_orientation

    rng = np.random.default_rng(11)
    for o in (2, 3, 4, 5, 6, 7, 8):
        stored = rng.integers(0, 256, (16, 24), dtype=np.uint8)
        plain = decode_gray_jpeg(encode_gray_jpeg(stored, quality=95))
        tagged = decode_gray_jpeg(
            encode_gray_jpeg(stored, quality=95, exif_orientation=o))
        assert (tagged == apply_exif_orientation(plain, o)).all(), o


def test_exif_malformed_blob_is_ignored():
    """A truncated/garbage Exif payload must degrade to orientation 1,
    not fail the image."""
    img = _gradient(16, 16, seed=3)
    enc = bytearray(encode_gray_jpeg(img, quality=95, exif_orientation=6))
    i = enc.find(b"Exif\x00\x00")
    enc[i + 6 : i + 10] = b"XXXX"  # smash the TIFF byte-order header
    plain = decode_gray_jpeg(encode_gray_jpeg(img, quality=95))
    assert np.array_equal(decode_gray_jpeg(bytes(enc)), plain)


# ------------------------------------------------------------- progressive


def test_progressive_matches_baseline():
    """Same image, same quality: progressive and baseline streams carry
    identical quantized coefficients, so the decodes must be bit-equal."""
    from sparkstract.fixtures.encoders.jpeg import encode_progressive_jpeg

    rng = np.random.default_rng(41)
    img = (rng.random((75, 93)) * 255).astype(np.uint8)
    base = decode_gray_jpeg(encode_gray_jpeg(img, quality=85))
    prog = decode_gray_jpeg(encode_progressive_jpeg(img, quality=85))
    assert (base == prog).all()


def test_progressive_page_like_text():
    from sparkstract.fixtures.encoders.jpeg import encode_progressive_jpeg

    img = np.full((64, 160), 235, dtype=np.uint8)
    img[20:28, 16:120] = 15  # a fat dark bar, glyph-ish contrast
    base = decode_gray_jpeg(encode_gray_jpeg(img, quality=95))
    prog = decode_gray_jpeg(encode_progressive_jpeg(img, quality=95))
    assert (base == prog).all()


def test_progressive_color_skips_chroma_scans():
    from sparkstract.fixtures.encoders.jpeg import encode_progressive_jpeg

    rng = np.random.default_rng(42)
    img = (rng.random((40, 56)) * 255).astype(np.uint8)
    gray = decode_gray_jpeg(encode_progressive_jpeg(img, quality=90))
    colr = decode_gray_jpeg(encode_progressive_jpeg(img, quality=90,
                                                    color=True))
    assert (gray == colr).all()


def test_progressive_spectral_only_script():
    """Spectral selection without successive approximation (Al=0
    everywhere) — a common libjpeg -scans shape."""
    from sparkstract.fixtures.encoders.jpeg import encode_progressive_jpeg

    rng = np.random.default_rng(43)
    img = (rng.random((33, 41)) * 255).astype(np.uint8)
    script = [(0, 0, 0, 0), (1, 10, 0, 0), (11, 63, 0, 0)]
    base = decode_gray_jpeg(encode_gray_jpeg(img, quality=75))
    prog = decode_gray_jpeg(encode_progressive_jpeg(img, quality=75,
                                                    script=script))
    assert (base == prog).all()


def test_eobrun_multi_block_decode():
    """EOBn with n>0 (run spanning blocks) — not emitted by our per-block
    encoder, so pin the decoder path with a handcrafted table + stream."""
    from sparkstract.fixtures.encoders.jpeg import _BitWriter
    from sparkstract.functions.jpeg import _ac_first, _BitReader, _decode_table

    # custom AC table: 0x10 (EOB1) -> '0', 0x01 (run0,size1) -> '10'
    bits = [1, 1] + [0] * 14
    vals = [0x10, 0x01]
    tbl = _decode_table(bits, vals)
    bw = _BitWriter()
    bw.put(0b10, 2)   # block 0: coefficient at k=1, size 1
    bw.put(1, 1)      #   extra bit -> +1
    bw.put(0b0, 1)    # EOB1 symbol
    bw.put(1, 1)      #   1 extra bit -> eobrun = 2+1-1 ... = (1<<1)-1+1 = 2
    bw.pad_align()
    reader = _BitReader(bytes(bw.out))
    blocks = [np.zeros(64, dtype=np.int32) for _ in range(4)]
    eobrun = 0
    eobrun = _ac_first(reader, tbl, blocks[0], 1, 63, 0, eobrun)
    assert blocks[0][1] == 1 and eobrun == 2
    eobrun = _ac_first(reader, tbl, blocks[1], 1, 63, 0, eobrun)
    eobrun = _ac_first(reader, tbl, blocks[2], 1, 63, 0, eobrun)
    assert eobrun == 0
    assert not blocks[1].any() and not blocks[2].any()


def test_progressive_fuzz_never_hangs():
    from sparkstract.fixtures.encoders.jpeg import encode_progressive_jpeg

    rng = np.random.default_rng(44)
    img = (np.outer(np.arange(24), np.arange(24)) % 211).astype(np.uint8)
    base = bytearray(encode_progressive_jpeg(img, quality=80))
    for _ in range(800):
        enc = bytearray(base)
        for _ in range(int(rng.integers(1, 8))):
            enc[int(rng.integers(0, len(enc)))] = int(rng.integers(0, 256))
        try:
            decode_gray_jpeg(bytes(enc))
        except Exception:
            pass


def test_codec_dispatch_progressive():
    from sparkstract.functions.codecs import decode_pages
    from sparkstract.fixtures.encoders.jpeg import encode_progressive_jpeg

    img = np.full((16, 16), 99, dtype=np.uint8)
    (got,) = decode_pages(encode_progressive_jpeg(img, quality=95))
    assert got.shape == (16, 16)


# ------------------------------------------------ Adobe CMYK/YCCK (APP14)


def _cmyk_from_rgb(rgb):
    k = 255.0 - rgb.max(axis=2)
    denom = np.maximum(255.0 - k, 1e-9)
    chans = [(255.0 - rgb[:, :, i] - k) / denom * 255.0 for i in range(3)]
    return np.clip(np.stack(chans + [k], axis=2), 0, 255).astype(np.uint8)


def _luma(rgb):
    return (77 * rgb[:, :, 0] + 150 * rgb[:, :, 1]
            + 29 * rgb[:, :, 2] + 128) / 256.0


def test_cmyk_and_ycck_decode_to_luma():
    from sparkstract.fixtures.encoders.jpeg import encode_cmyk_jpeg

    rgb = np.zeros((40, 56, 3))
    rgb[:, :, 0] = np.linspace(20, 220, 56)[None, :]
    rgb[:, :, 1] = np.linspace(40, 220, 40)[:, None]
    rgb[:, :, 2] = 120.0
    cmyk = _cmyk_from_rgb(rgb)
    for tr in (0, 2):
        got = decode_gray_jpeg(
            encode_cmyk_jpeg(cmyk, quality=95, transform=tr))
        assert got.shape == (40, 56)
        err = np.abs(got.astype(np.float64) - _luma(rgb))
        assert err.max() <= 4.0, (tr, err.max())


def test_cmyk_pure_black_channel():
    # page-ink shape: c = m = y = 0, K carries the image — gray must be
    # ~255 - K (through the RGB collapse all three channels equal 255-K)
    from sparkstract.fixtures.encoders.jpeg import encode_cmyk_jpeg

    rng = np.random.default_rng(17)
    img = (rng.random((32, 48)) < 0.12).astype(np.uint8) * 255
    img = 255 - img  # mostly white, some black ink
    cmyk = np.zeros(img.shape + (4,), dtype=np.uint8)
    cmyk[:, :, 3] = 255 - img
    for tr in (0, 2):
        got = decode_gray_jpeg(encode_cmyk_jpeg(cmyk, quality=95,
                                                transform=tr))
        # q=95 keeps bilevel ink Otsu-separable: thresholded equality
        assert ((got > 127) == (img > 127)).mean() > 0.99, tr


def test_progressive_cmyk_named_out_of_scope():
    from sparkstract.fixtures.encoders.jpeg import encode_cmyk_jpeg

    data = bytearray(encode_cmyk_jpeg(
        np.zeros((8, 8, 4), dtype=np.uint8), transform=0))
    at = data.find(b"\xff\xc0")
    data[at + 1] = 0xC2  # flip SOF0 -> SOF2
    with pytest.raises(ValueError, match="progressive 4-component"):
        decode_gray_jpeg(bytes(data))


def test_app14_transform_byte_parsed():
    # transform 0 vs 2 on the same CMYK input must both reconstruct the
    # same gray (the byte changes interpretation, not content)
    from sparkstract.fixtures.encoders.jpeg import encode_cmyk_jpeg

    rng = np.random.default_rng(9)
    cmyk = rng.integers(0, 256, (24, 24, 4), dtype=np.uint8)
    # smooth it so quantization noise stays small
    cmyk = (cmyk // 4 * 4).astype(np.uint8)
    g0 = decode_gray_jpeg(encode_cmyk_jpeg(cmyk, quality=98, transform=0))
    g2 = decode_gray_jpeg(encode_cmyk_jpeg(cmyk, quality=98, transform=2))
    assert np.abs(g0.astype(int) - g2.astype(int)).max() <= 6


def test_cmyk_no_app14_is_direct_ink():
    """4-component JPEG WITHOUT an APP14 marker: non-Adobe convention
    stores ink DIRECT (not inverted) — the decoder must not apply the
    Adobe inversion, or every such file comes out luma-flipped."""
    from sparkstract.fixtures.encoders.jpeg import encode_cmyk_jpeg

    rgb = np.zeros((40, 56, 3))
    rgb[:, :, 0] = np.linspace(20, 220, 56)[None, :]
    rgb[:, :, 1] = np.linspace(40, 220, 40)[:, None]
    rgb[:, :, 2] = 120.0
    cmyk = _cmyk_from_rgb(rgb)
    data = encode_cmyk_jpeg(cmyk, quality=95, transform=None)
    assert b"Adobe" not in data
    got = decode_gray_jpeg(data)
    err = np.abs(got.astype(np.float64) - _luma(rgb))
    assert err.max() <= 4.0, err.max()


def _bit_serial(data: bytes, codes: dict) -> tuple[list, str]:
    """Reference entropy walk, one bit at a time: each symbol, then its
    low-nibble count of extra bits, until the first error."""
    bits = [(b >> (7 - i)) & 1 for b in data for i in range(8)]
    pos, out = 0, []
    while True:
        code = 0
        for ln in range(1, 17):
            if pos >= len(bits):
                return out, "invalid JPEG: truncated entropy data"
            code = (code << 1) | bits[pos]
            pos += 1
            sym = codes.get((ln, code))
            if sym is not None:
                break
        else:
            return out, "invalid JPEG: bad Huffman code"
        extra = 0
        for _ in range(sym & 0x0F):
            if pos >= len(bits):
                return out, "invalid JPEG: truncated entropy data"
            extra = (extra << 1) | bits[pos]
            pos += 1
        out.append((sym, extra))


def _table_driven(data: bytes, table) -> tuple[list, str]:
    r, out = _BitReader(data), []
    try:
        while True:
            sym = _huff(r, table)
            out.append((sym, r.bits(sym & 0x0F)))
    except ValueError as e:
        return out, str(e)


@pytest.mark.parametrize("bits,vals", [
    (_DC_BITS, _DC_VALS),
    (_AC_BITS, _AC_VALS),
    # long codes only (9-16 bits), and a code space left partly unused
    ([0] * 8 + [1, 2, 4, 8, 16, 32, 64, 120], list(range(247))),
    # malformed: an overfull first length and a duplicated symbol
    ([3, 1, 2] + [0] * 13, [0x11, 0x22, 0x11, 0x33, 0x44, 0x55]),
])
def test_table_huffman_matches_bit_serial_walk(bits, vals):
    """Symbols, extra bits and the first error (truncated data or a bad
    code) equal the bit-serial walk's on random and all-ones streams of
    every short length."""
    table = _decode_table(bits, vals)
    codes = table[1]
    rng = np.random.default_rng(len(vals))
    streams = [b"\xff" * n for n in range(6)]
    for n in range(14):
        for _ in range(12):
            streams.append(bytes(rng.integers(0, 256, n, dtype=np.uint8)))
            streams.append(bytes(rng.integers(0xE0, 256, n, dtype=np.uint8)))
    for data in streams:
        assert _table_driven(data, table) == _bit_serial(data, codes)
