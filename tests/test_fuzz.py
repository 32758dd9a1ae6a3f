"""Property-based fuzzing of the pure kernels (the analog of the reference's
unittest/fuzzers/ layer, SURVEY.md §5 item 4)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkstract.fixtures.render import rotate_nn
from sparkstract.functions.cclabel import label_blobs
from sparkstract.functions.geometry import shear_y
from sparkstract.functions.otsu import binarize
from sparkstract.operators.bidi import textline_order, word_indices_only
from sparkstract.operators.page import analyse_page
from sparkstract.operators.paragraphs import RowInfo, detect_paragraphs


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**31 - 1), st.floats(0.0, 1.0))
def test_label_blobs_invariants(seed, density):
    rng = np.random.default_rng(seed)
    ink = rng.random((30, 40)) < density
    blobs = label_blobs(ink)
    assert int(blobs.area.sum()) == int(ink.sum())
    if len(blobs):
        assert (blobs.left >= 0).all() and (blobs.right < 40).all()
        assert (blobs.top >= 0).all() and (blobs.bottom < 30).all()
        assert (blobs.left <= blobs.right).all()
        assert (blobs.top <= blobs.bottom).all()
        assert (blobs.area <= blobs.width.astype(np.int64) * blobs.height).all()


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_analyse_page_never_crashes_on_noise(seed):
    rng = np.random.default_rng(seed)
    gray = (rng.random((60, 80)) * 255).astype(np.uint8)
    blocks = analyse_page(gray)  # garbage in → SOME typed blocks out, no crash
    orders = [b.order for b in blocks]
    assert orders == sorted(orders)
    for b in blocks:
        assert b.kind


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 3), max_size=12), st.booleans())
def test_textline_order_permutation(dirs, ltr):
    order = textline_order(ltr, dirs)
    assert sorted(word_indices_only(order)) == list(range(len(dirs)))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.text(
    alphabet=" ABCDEFGHIJKLMNOPQRSTUVWXYZ.'1-", max_size=34), max_size=12))
def test_detect_paragraphs_total(lines):
    rows = [RowInfo.from_ascii(t) for t in lines]
    out = detect_paragraphs(rows)
    assert len(out) == len(rows)
    # every row is assigned, para ids are non-decreasing
    ids = [r.para_id for r in out]
    assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31 - 1),
       st.floats(-3.0, 3.0, allow_nan=False))
def test_shear_preserves_mass(seed, deg):
    rng = np.random.default_rng(seed)
    ink = rng.random((40, 70)) < 0.2
    out = shear_y(ink, np.tan(np.deg2rad(deg)), False)
    assert int(out.sum()) == int(ink.sum())


@settings(max_examples=20, deadline=None)
@given(st.floats(-10.0, 10.0, allow_nan=False))
def test_rotate_bounds(deg):
    img = np.full((20, 30), 255, dtype=np.uint8)
    out = rotate_nn(img, deg, np.uint8(0))
    assert out.shape[0] >= 20 - 1 and out.shape[1] >= 30 - 1


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_binarize_is_boolean_partition(seed):
    rng = np.random.default_rng(seed)
    gray = (rng.random((25, 25)) * 255).astype(np.uint8)
    ink = binarize(gray)
    assert ink.dtype == bool and ink.shape == gray.shape


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31 - 1),
       st.sampled_from(["auto", "single_column", "single_block", "single_line"]),
       st.booleans(),
       st.sampled_from([None, "AB", "0123456789", "XYZ-=+"]))
def test_analyse_page_modes_never_crash(seed, psm, rtl, whitelist):
    """Any psm/rtl/whitelist combination on garbage input: typed blocks out,
    dense ascending order, whitelist respected when set."""
    rng = np.random.default_rng(seed)
    gray = (rng.random((60, 80)) * 255).astype(np.uint8)
    blocks = analyse_page(gray, rtl=rtl, psm=psm, whitelist=whitelist)
    assert [b.order for b in blocks] == list(range(len(blocks)))
    if whitelist:
        for b in blocks:
            if b.text:
                assert set(b.text.replace(" ", "").replace("\n", "")) \
                    <= set(whitelist)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_estimate_warp_total_on_noise(seed):
    """The spline-residual estimator must return a bounded finite curve (or
    None) for ANY ink pattern — it runs unconditionally inside the
    correction loop, so a crash here is a crash for every page."""
    from sparkstract.functions.geometry import estimate_warp

    rng = np.random.default_rng(seed)
    ink = rng.random((40, 64)) < rng.uniform(0.0, 0.6)
    f = estimate_warp(ink)
    if f is not None:
        assert f.shape == (64,)
        assert np.isfinite(f).all()
        assert float(np.abs(f).max()) <= 2 * 12 + 3  # bounded by search span


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 4))
def test_analyse_zones_total_on_noise(seed, n_zones):
    """Zone-override recognition must survive arbitrary zone rectangles over
    arbitrary ink — including empty, degenerate, and out-of-range zones."""
    from sparkstract.operators.page import analyse_zones

    rng = np.random.default_rng(seed)
    gray = (rng.random((50, 70)) * 255).astype(np.uint8)
    zones = []
    for _ in range(n_zones):
        l, t = int(rng.integers(0, 69)), int(rng.integers(0, 49))
        zones.append(dict(left=l, top=t,
                          right=int(rng.integers(l, 75)),
                          bottom=int(rng.integers(t, 55)),
                          kind="flowing_text"))
    out = analyse_zones(gray, zones)
    assert len(out) == len(zones)
    assert [b.order for b in out] == list(range(len(zones)))


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(0, 3), min_size=1, max_size=10))
def test_word_direction_feeds_textline_order(dirs):
    """The kernel's per-word direction vocabulary is exactly what
    textline_order consumes — round-trip on synthetic words of each class."""
    from sparkstract.operators.page import _word_direction

    sample = {0: "123", 1: "FOX", 2: "אב", 3: "אX"}
    words = [sample[d] for d in dirs]
    got = [_word_direction(w) for w in words]
    assert got == dirs
    order = textline_order(False, got)
    assert sorted(word_indices_only(order)) == list(range(len(dirs)))


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(4, 60))
def test_flow_vertical_chains_invariants(seed, n):
    from sparkstract.operators.page import _flow_vertical_chains

    rng = np.random.default_rng(seed)
    tl = rng.integers(0, 400, n)
    tt = rng.integers(0, 400, n)
    w = rng.integers(1, 14, n)
    h = rng.integers(1, 16, n)
    chains = _flow_vertical_chains(tl, tt, tl + w, tt + h)
    seen = set()
    for ch in chains:
        assert len(ch) >= 3
        assert not (set(ch.tolist()) & seen)  # chains are disjoint
        seen |= set(ch.tolist())
        assert np.all(np.diff(tt[ch]) >= 0)  # sorted top-to-bottom
        # one glyph wide by construction
        width = tl[ch].max() + w[ch].max() - tl[ch].min()
        assert width <= 1.5 * np.median(w[ch]) + w.max()


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(1, 8), st.integers(1, 12))
def test_tab_partner_gutters_total_and_sane(seed, n_rows, n_groups):
    from sparkstract.operators.page import _tab_partner_gutters

    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(n_rows):
        gl = np.sort(rng.integers(0, 500, n_groups))
        gw = rng.integers(3, 30, n_groups)
        top = int(rng.integers(0, 300))
        rows.append(dict(top=top, bottom=top + 13,
                         gl=gl, gr=gl + gw, cov_l=gl, cov_r=gl + gw,
                         s=int(rng.integers(1, 4))))
    for a, b in _tab_partner_gutters(rows, body_s=2):
        # non-degenerate, non-negative interval with a real partner: some
        # row's ink ends exactly at a-1 and some row's group starts near b+1
        assert 0 <= a <= b
        assert any((r["cov_r"] == a - 1).any() for r in rows)
        assert any((np.abs(r["gl"] - (b + 1)) <= 2).any() for r in rows)


# ------------------------------------------------- decompression bombs


def test_gif_lzw_bomb_capped():
    """A crafted LZW stream expanding far past the frame size must raise,
    not allocate gigabytes inside an executor task."""
    import struct

    import numpy as np
    import pytest

    from sparkstract.functions.bits import lzw_encode
    from sparkstract.fixtures.encoders.gif import encode_gif
    from sparkstract.functions.gif import decode_gray_gif

    img = np.zeros((4, 4), dtype=np.uint8)
    gif = bytearray(encode_gif(img))
    # replace the frame data with a stream that decodes to 1 MB of zeros
    bomb = lzw_encode(b"\x00" * (1 << 20), early=0, lsb=True, min_bits=8)
    at = gif.index(struct.pack("<BHHHHB", 0x2C, 0, 0, 4, 4, 0))
    out = bytearray(gif[:at])
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, 4, 4, 0)
    out.append(8)
    for k in range(0, len(bomb), 255):
        chunk = bomb[k:k + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    out.append(0x3B)
    with pytest.raises(ValueError, match="LZW output exceeds expected size"):
        decode_gray_gif(bytes(out))


def test_tiff_lzw_bomb_capped():
    import pytest

    from sparkstract.functions.bits import lzw_encode
    from sparkstract.fixtures.encoders.tiff import encode_gray_tiff
    from sparkstract.functions.tiff import decode_gray_tiff
    import numpy as np

    img = np.zeros((4, 4), dtype=np.uint8)
    enc = bytearray(encode_gray_tiff(img, "lzw"))
    strip = lzw_encode(img.tobytes(), early=1)
    at = enc.index(strip)
    bomb = lzw_encode(b"\x00" * (1 << 20), early=1)
    # swap the strip for the bomb and fix StripByteCounts (tag 279)
    out = enc[:at] + bomb + enc[at + len(strip):]
    import struct
    delta = len(bomb) - len(strip)
    (ifd_off,) = struct.unpack_from("<I", out, 4)
    ifd_off_fixed = ifd_off + delta
    struct.pack_into("<I", out, 4, ifd_off_fixed)
    (n,) = struct.unpack_from("<H", out, ifd_off_fixed)
    for i in range(n):
        pos = ifd_off_fixed + 2 + 12 * i
        (tag,) = struct.unpack_from("<H", out, pos)
        if tag == 279:
            struct.pack_into("<I", out, pos + 8, len(bomb))
    with pytest.raises(ValueError, match="LZW output exceeds expected size"):
        decode_gray_tiff(bytes(out))


# CLEAR, then code 300 before the table holds any entry past 257
_LZW_BAD_FIRST_CODE = ((256 << 9 | 300) << 6).to_bytes(3, "big")


def test_tiff_lzw_corrupt_first_code_is_value_error():
    import struct

    import numpy as np
    import pytest

    from sparkstract.fixtures.encoders.tiff import encode_gray_tiff
    from sparkstract.functions.tiff import decode_gray_tiff

    data = bytearray(encode_gray_tiff(np.zeros((4, 4), np.uint8), "lzw"))
    (ifd,) = struct.unpack_from("<I", data, 4)
    (n,) = struct.unpack_from("<H", data, ifd)
    for i in range(n):   # point the one strip at the corrupt stream
        pos = ifd + 2 + 12 * i
        tag = struct.unpack_from("<H", data, pos)[0]
        if tag == 273:
            struct.pack_into("<I", data, pos + 8, len(data))
        if tag == 279:
            struct.pack_into("<I", data, pos + 8, len(_LZW_BAD_FIRST_CODE))
    with pytest.raises(ValueError, match="corrupt LZW stream"):
        decode_gray_tiff(bytes(data) + _LZW_BAD_FIRST_CODE)


def test_pdf_lzw_corrupt_first_code_is_value_error():
    import pytest

    from sparkstract.functions.pdf import _filter_chain

    with pytest.raises(ValueError, match="corrupt LZW stream"):
        _filter_chain(["/LZWDecode"], _LZW_BAD_FIRST_CODE)


def test_png_idat_bomb_truncates_not_allocates():
    """An 8x8 PNG whose IDAT inflates to 10 MB: the bounded inflate stops
    at the raster size (the image decodes; the bomb tail is ignored)."""
    import struct
    import zlib

    import numpy as np

    from sparkstract.functions.png import _SIG, _chunk, decode_gray

    img = np.full((8, 8), 9, dtype=np.uint8)
    raw = bytearray()
    for y in range(8):
        raw.append(0)
        raw += img[y].tobytes()
    raw += b"\x00" * (10 << 20)            # the bomb tail
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0)
    png = (_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(bytes(raw)))
           + _chunk(b"IEND", b""))
    assert (decode_gray(png) == img).all()


def test_pdf_flate_bomb_capped():
    import zlib

    import pytest

    from sparkstract.functions.pdf import _filter_chain

    bomb = zlib.compress(b"\x00" * ((1 << 28) + 1024))
    with pytest.raises(ValueError, match="inflate cap"):
        _filter_chain(["/FlateDecode"], bomb)


def test_pdf_xref_zero_width_rows_raise():
    import pytest

    from sparkstract.functions.pdf import _xref_stream_entries

    with pytest.raises(ValueError, match="bad /W"):
        _xref_stream_entries({"/W": [0, 0, 0], "/Size": 10,
                              "/Index": [0, 1 << 30]}, b"", {})


import struct

import pytest


def test_jp2_corruption_is_total():
    """JPEG 2000 decode over byte-corrupted streams must terminate with
    a decoded page or a ValueError — never hang or blow memory (the
    untrusted-crawl contract every codec in functions/ carries)."""
    import numpy as np

    from sparkstract.fixtures.encoders.jp2 import encode_j2k
    from sparkstract.functions.jp2 import decode_jp2

    img = (np.arange(400, dtype=np.uint8).reshape(20, 20) * 3) % 256
    base = bytearray(encode_j2k(img.astype(np.uint8), levels=1))
    rng = np.random.default_rng(17)
    for _ in range(250):
        data = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            data[int(rng.integers(0, len(data)))] = int(rng.integers(0, 256))
        try:
            out = decode_jp2(bytes(data))
            # dimensions come from the (possibly corrupted) SIZ — the
            # invariant is the decode-bomb cap, not the exact shape
            assert out.size <= 64_000_000
        except (ValueError, struct.error, IndexError, KeyError):
            pass  # rejected — fine; the invariant is termination


def test_jp2_tile_part_length_underflow_rejected():
    """A crafted Psot below the SOT+SOD minimum would walk the tile-part
    loop backwards forever."""
    import numpy as np

    from sparkstract.fixtures.encoders.jp2 import encode_j2k
    from sparkstract.functions.jp2 import decode_jp2

    cs = bytearray(encode_j2k(np.zeros((8, 8), np.uint8), levels=0))
    i = cs.index(b"\xff\x90")         # SOT
    struct.pack_into(">I", cs, i + 6, 4)  # Psot = 4 (< minimum 14)
    with pytest.raises(ValueError, match="tile-part length"):
        decode_jp2(bytes(cs))


def test_jpeg_tiff_corruption_is_total():
    import numpy as np

    from sparkstract.fixtures.encoders.tiff import encode_gray_tiff
    from sparkstract.functions.tiff import decode_gray_tiff

    img = (np.arange(600, dtype=np.uint8).reshape(20, 30) * 5) % 256
    base = bytearray(encode_gray_tiff(img.astype(np.uint8),
                                      compression="jpeg",
                                      jpeg_tables=True, strip_rows=8))
    rng = np.random.default_rng(23)
    for _ in range(150):
        data = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            data[int(rng.integers(0, len(data)))] = int(rng.integers(0, 256))
        try:
            pages = decode_gray_tiff(bytes(data))
            assert all(p.size <= 1 << 24 for p in pages)
        except (ValueError, struct.error, IndexError, KeyError):
            pass


def test_jbig2_arith_corruption_is_total():
    """MQ-coded generic-region and symbol/text JBIG2 decode over
    byte-corrupted streams must terminate with a page or a ValueError —
    never hang or out-allocate (the untrusted-crawl codec contract)."""
    import numpy as np

    from sparkstract.fixtures.encoders.jbig2 import (
        encode_jbig2, encode_jbig2_text,
    )
    from sparkstract.functions.jbig2 import decode_jbig2

    rng = np.random.default_rng(23)
    ink = (rng.random((30, 44)) < 0.25).astype(np.uint8)
    gen = bytearray(encode_jbig2(ink, coder="arith", tpgdon=True))
    stream, glob = encode_jbig2_text(ink)
    txt = bytearray(glob + stream)
    for base in (gen, txt):
        for _ in range(200):
            data = bytearray(base)
            for _ in range(int(rng.integers(1, 4))):
                data[int(rng.integers(0, len(data)))] = int(
                    rng.integers(0, 256))
            try:
                out = decode_jbig2(bytes(data))
                assert out.size <= 64_000_000
            except ValueError:
                pass  # rejected — fine; the invariant is termination


def test_jp2_bypass_corruption_is_total():
    """Corrupted parallel-mode streams (BYPASS/RESET/CAUSAL, layered)
    must decode or raise — the raw-segment reader and per-segment
    length walk included."""
    import numpy as np

    from sparkstract.fixtures.encoders.jp2 import encode_j2k
    from sparkstract.functions.jp2 import decode_jp2

    img = (np.arange(400, dtype=np.uint8).reshape(20, 20) * 7) % 256
    bases = [
        bytearray(encode_j2k(img, levels=1, bypass=True, reset=True,
                             causal=True, layers=2)),
        bytearray(encode_j2k(img, levels=1, precincts=(5, 5),
                             bypass=True, layers=2)),
    ]
    rng = np.random.default_rng(29)
    for base in bases:
      for _ in range(150):
        data = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            data[int(rng.integers(0, len(data)))] = int(rng.integers(0, 256))
        try:
            out = decode_jp2(bytes(data))
            assert out.size <= 64_000_000
        except (ValueError, struct.error, IndexError, KeyError):
            pass
