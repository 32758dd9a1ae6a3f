"""JPEG 2000 codec (functions/jp2.py) — ITU-T T.800 from scratch.

No independent JPEG 2000 implementation exists in this container, so the
strategy mirrors test_webp.py: (a) heavy randomized roundtrips through
the mirror encoder in fixtures/encoders/jp2.py (MQ, tag trees, Tier-1,
DWT, full codestream), (b) hand-walked bit-level vectors pinning the decode side
against the spec's algorithms independently of the encoder, (c) named
out-of-scope errors and decode-bomb guards, (d) the PDF /JPXDecode and
raster-sniff integration seams.
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

import sparkstract.functions.jp2 as jp2
from sparkstract.fixtures.encoders.jp2 import (
    _JP2_SIG, MQEncoder, _HdrWriter, encode_j2k, encode_jp2, fwd53_1d,
    fwd97_1d, t1_encode,
)
from sparkstract.functions.jp2 import (
    MQDecoder, TagTree, _HdrReader, decode_jp2, inv53_1d, inv97_1d, t1_decode,
)


# ---------------------------------------------------------------------------
# MQ coder (Annex C)
# ---------------------------------------------------------------------------

def test_mq_state_table_shape():
    # Table C.2: 47 rows; terminal fast-attack states; switch rows
    assert len(jp2._QE) == len(jp2._NMPS) == len(jp2._NLPS) == 47
    assert len(jp2._SWITCH) == 47
    assert jp2._QE[0] == 0x5601 and jp2._QE[46] == 0x5601
    assert jp2._QE[45] == 0x0001          # most-skewed state
    assert [i for i, sw in enumerate(jp2._SWITCH) if sw] == [0, 6, 14]
    assert all(0 <= n < 47 for n in jp2._NMPS)
    assert all(0 <= n < 47 for n in jp2._NLPS)
    assert jp2._NMPS[46] == jp2._NLPS[46] == 46   # non-adapting state


def test_mq_roundtrip_random():
    rng = random.Random(7)
    for trial in range(150):
        n = rng.randrange(1, 800)
        ncx = rng.randrange(1, 12)
        bits = [rng.randrange(2) for _ in range(n)]
        sel = [rng.randrange(ncx) for _ in range(n)]
        enc = MQEncoder()
        cxe = [[0, 0] for _ in range(ncx)]
        for b, s in zip(bits, sel):
            enc.encode(b, cxe[s])
        data = enc.flush()
        dec = MQDecoder(data)
        cxd = [[0, 0] for _ in range(ncx)]
        assert [dec.decode(cxd[s]) for s in sel] == bits, trial


def test_mq_roundtrip_biased_streams():
    # long MPS runs exercise byte stuffing and the carry chain
    rng = random.Random(11)
    for p in (0.01, 0.1, 0.9, 0.99):
        for trial in range(20):
            n = rng.randrange(200, 3000)
            bits = [1 if rng.random() < p else 0 for _ in range(n)]
            enc = MQEncoder()
            cx = [[0, 0]]
            for b in bits:
                enc.encode(b, cx[0])
            data = enc.flush()
            dec = MQDecoder(data)
            cx = [[0, 0]]
            assert [dec.decode(cx[0]) for _ in bits] == bits


def test_mq_single_lps_pinned():
    """Hand-walked Annex C vector: one LPS in a fresh context.

    CODELPS at state 0 (Qe=0x5601): A=0x29FF<Qe -> C+=Qe (exchange),
    switch MPS, 2 renorm shifts -> C=0x15804, CT=10.  SETBITS:
    tempc=0x20000, C|=0xFFFF=0x1FFFF (<tempc).  C<<10=0x7FFFC00 ->
    byte 0xFF; stuffed second byteout -> 0x7F; trailing-FF strip keeps
    both.  Expected stream: FF 7F."""
    enc = MQEncoder()
    cx = [[0, 0]]
    enc.encode(1, cx[0])
    assert enc.flush() == b"\xff\x7f"
    dec = MQDecoder(b"\xff\x7f")
    cx = [[0, 0]]
    assert dec.decode(cx[0]) == 1


def test_mq_carry_through_stuffed_byte():
    """The byte after an 0xFF may legally reach 0x8F: a pending carry
    rides in its top bit.  Regression for the 0x7F-mask bug: find a
    stream whose output contains FF then a byte >= 0x80 and require the
    roundtrip to hold."""
    rng = random.Random(7)
    seen = False
    for trial in range(400):
        n = rng.randrange(1, 600)
        ncx = rng.randrange(1, 10)
        bits = [rng.randrange(2) for _ in range(n)]
        sel = [rng.randrange(ncx) for _ in range(n)]
        enc = MQEncoder()
        cxe = [[0, 0] for _ in range(ncx)]
        for b, s in zip(bits, sel):
            enc.encode(b, cxe[s])
        data = enc.flush()
        for i in range(len(data) - 1):
            if data[i] == 0xFF and 0x80 <= data[i + 1] <= 0x8F:
                seen = True
        dec = MQDecoder(data)
        cxd = [[0, 0] for _ in range(ncx)]
        assert [dec.decode(cxd[s]) for s in sel] == bits
    assert seen, "no carry-through-FF case generated; widen the search"


def test_mq_decoder_survives_truncation():
    # decoder feeds 1-bits past the segment end instead of crashing
    enc = MQEncoder()
    cx = [[0, 0]]
    for b in [1, 0, 1, 1, 0, 0, 1] * 30:
        enc.encode(b, cx[0])
    data = enc.flush()
    dec = MQDecoder(data[: len(data) // 2])
    cx = [[0, 0]]
    for _ in range(210):
        assert dec.decode(cx[0]) in (0, 1)


# ---------------------------------------------------------------------------
# Packet-header bit IO (B.10.1) and tag trees (B.10.2)
# ---------------------------------------------------------------------------

def test_hdr_bit_stuffing_roundtrip():
    rng = random.Random(3)
    for trial in range(100):
        bits = [rng.randrange(2) for _ in range(rng.randrange(1, 200))]
        wr = _HdrWriter()
        for b in bits:
            wr.bit(b)
        data = wr.flush()
        # stuffing invariant: no byte after 0xFF has its MSB set
        for i in range(len(data) - 1):
            if data[i] == 0xFF:
                assert data[i + 1] & 0x80 == 0
        rd = _HdrReader(data)
        assert [rd.bit() for _ in bits] == bits


def test_hdr_writer_never_ends_on_ff():
    wr = _HdrWriter()
    for _ in range(8):
        wr.bit(1)
    data = wr.flush()
    assert data[-1] != 0xFF  # B.10.1: a packet header cannot end in FF


def test_tagtree_pinned_2x2():
    """Hand-walked B.10.2 vector over leaves [[1,3],[2,2]] (root min 1).

    q(0,0,t=1): root value 0 < true 1 -> bit 0.  q(0,0,t=2): root
    resolves with bit 1, leaf resolves with bit 1 (value 1).
    q(1,0,t=2): leaf lower bound 1 < true 3 -> bit 0, now proven >= 2.
    Bit string 0,1,1,0 -> byte 0x60."""
    tree = TagTree(2, 2)
    tree.set_values([[1, 3], [2, 2]])
    wr = _HdrWriter()
    tree.encode(wr, 0, 0, 1)
    tree.encode(wr, 0, 0, 2)
    tree.encode(wr, 1, 0, 2)
    assert wr.flush() == b"\x60"
    rd = _HdrReader(b"\x60")
    dec = TagTree(2, 2)
    assert dec.decode(rd, 0, 0, 1) is False
    assert dec.decode(rd, 0, 0, 2) is True
    assert dec.value[dec._path(0, 0)[-1]] == 1
    assert dec.decode(rd, 1, 0, 2) is False


def test_tagtree_roundtrip_random():
    rng = random.Random(5)
    for trial in range(80):
        w, h = rng.randrange(1, 9), rng.randrange(1, 9)
        vals = [[rng.randrange(0, 6) for _ in range(w)] for _ in range(h)]
        et = TagTree(w, h)
        et.set_values(vals)
        wr = _HdrWriter()
        queries = []
        for t in range(1, 8):
            for y in range(h):
                for x in range(w):
                    et.encode(wr, x, y, t)
                    leaf = et._path(x, y)[-1]
                    queries.append(
                        (x, y, t, et.known[leaf] and et.value[leaf] < t))
        rd = _HdrReader(wr.flush())
        dt = TagTree(w, h)
        for x, y, t, exp in queries:
            got = dt.decode(rd, x, y, t)
            assert got == exp
            if got:
                assert dt.value[dt._path(x, y)[-1]] == vals[y][x]


# ---------------------------------------------------------------------------
# Tier-1 (Annex D)
# ---------------------------------------------------------------------------

def _random_block(trial, w, h, mb, density):
    coeffs = np.zeros((h, w), np.int32)
    mask = np.random.RandomState(trial).rand(h, w) < density
    mags = np.random.RandomState(trial + 999).randint(0, 1 << mb, (h, w))
    signs = np.where(np.random.RandomState(trial + 5).rand(h, w) < 0.5, -1, 1)
    coeffs[mask] = (mags * signs)[mask]
    return coeffs


def test_t1_roundtrip_random():
    rng = random.Random(3)
    for trial in range(50):
        w, h = rng.randrange(1, 40), rng.randrange(1, 40)
        mb = rng.randrange(2, 12)
        coeffs = _random_block(trial, w, h, mb,
                               rng.choice([0.0, 0.02, 0.3, 0.9]))
        band = rng.choice(["LL", "HL", "LH", "HH"])
        segsym = rng.random() < 0.5
        data, npasses, zp = t1_encode(coeffs, band, mb, segsym=segsym)
        got = t1_decode([data], npasses, w, h, band, zp, mb, segsym=segsym)
        assert np.array_equal(got, coeffs), (trial, w, h, mb, band)


def test_t1_termall_roundtrip():
    rng = random.Random(9)
    for trial in range(20):
        w, h = rng.randrange(2, 30), rng.randrange(2, 30)
        mb = rng.randrange(3, 11)
        coeffs = _random_block(trial, w, h, mb, 0.2)
        band = rng.choice(["LL", "HL", "LH", "HH"])
        segs, npasses, zp = t1_encode(coeffs, band, mb, termall=True)
        assert isinstance(segs, list) and len(segs) == npasses
        got = t1_decode(segs, npasses, w, h, band, zp, mb, termall=True)
        assert np.array_equal(got, coeffs)


def test_t1_all_zero_block():
    data, npasses, zp = t1_encode(np.zeros((8, 8), np.int32), "HH", 7)
    assert npasses == 0 and zp == 7 and data == b""
    got = t1_decode([b""], 0, 8, 8, "HH", 7, 7)
    assert not got.any()


def test_t1_single_sample_block():
    for v in (-5, 0, 3):
        data, npasses, zp = t1_encode(np.array([[v]], np.int32), "LL", 4)
        got = t1_decode([data], npasses, 1, 1, "LL", zp, 4)
        assert got[0, 0] == v


def test_t1_segsym_detects_corruption():
    coeffs = _random_block(1, 16, 16, 8, 0.4)
    data, npasses, zp = t1_encode(coeffs, "LL", 8, segsym=True)
    bad = bytearray(data)
    bad[len(bad) // 2] ^= 0x55
    with pytest.raises(ValueError, match="segmentation symbol"):
        t1_decode([bytes(bad)], npasses, 16, 16, "LL", zp, 8, segsym=True)


def test_t1_rejects_oversized_block():
    with pytest.raises(ValueError, match="code block"):
        t1_decode([b""], 0, 200, 200, "LL", 0, 8)


def test_t1_zc_context_tables_pinned():
    # Table D.1 spot rows for both orientation LUTs
    lh, hh = jp2._ZC_LH, jp2._ZC_HH
    assert lh[(0, 0, 0)] == 0 and lh[(2, 0, 0)] == 8
    assert lh[(1, 1, 0)] == 7 and lh[(1, 0, 1)] == 6 and lh[(1, 0, 0)] == 5
    assert lh[(0, 2, 0)] == 4 and lh[(0, 1, 0)] == 3
    assert lh[(0, 0, 2)] == 2 and lh[(0, 0, 1)] == 1
    assert hh[(0, 0, 3)] == 8 and hh[(1, 1, 2)] == 7 and hh[(0, 0, 2)] == 6
    assert hh[(2, 0, 1)] == 5 and hh[(1, 0, 1)] == 4 and hh[(0, 0, 1)] == 3
    assert hh[(2, 0, 0)] == 2 and hh[(1, 0, 0)] == 1 and hh[(0, 0, 0)] == 0
    # Table D.3: sign contexts symmetric under global sign flip (xor bit);
    # the all-insignificant (0,0) cell is the fixed point
    for (h, v), (cx, xb) in jp2._SC.items():
        cx2, xb2 = jp2._SC[(-h, -v)]
        assert cx2 == cx
        if (h, v) != (0, 0):
            assert xb2 == 1 - xb
    assert jp2._SC[(0, 0)] == (9, 0)


# ---------------------------------------------------------------------------
# DWT (Annex F)
# ---------------------------------------------------------------------------

def test_dwt53_exact_roundtrip_all_phases():
    rng = random.Random(1)
    for trial in range(100):
        n = rng.randrange(1, 50)
        i0 = rng.randrange(0, 4)
        x = np.random.RandomState(trial).randint(-2000, 2000, (3, n))
        assert np.array_equal(inv53_1d(fwd53_1d(x, i0), i0), x)


def test_dwt97_close_roundtrip():
    rng = random.Random(2)
    for trial in range(60):
        n = rng.randrange(1, 50)
        i0 = rng.randrange(0, 4)
        x = np.random.RandomState(trial).rand(3, n) * 500 - 250
        assert np.allclose(inv97_1d(fwd97_1d(x, i0), i0), x, atol=1e-6)


def test_dwt53_energy_compaction():
    # a smooth ramp should leave high-pass coefficients near zero
    x = np.arange(64, dtype=np.int64).reshape(1, 64)
    y = fwd53_1d(x, 0)
    highs = y[0, 1::2]
    assert np.abs(highs).max() <= 1


# ---------------------------------------------------------------------------
# Full codestream
# ---------------------------------------------------------------------------

def _page_img(seed=42, shape=(75, 93)):
    rng = np.random.RandomState(seed)
    img = np.full(shape, 255, int)
    img[10:20, 5:60] = 0
    img[30:33, :] = 128
    img += (rng.rand(*shape) * 8).astype(int)
    return np.clip(img, 0, 255).astype(np.uint8)


def test_lossless_gray_roundtrip():
    img = _page_img()
    assert np.array_equal(decode_jp2(encode_j2k(img, levels=3)), img)


def test_lossy_97_tolerance():
    img = _page_img()
    out = decode_jp2(encode_j2k(img, levels=2, reversible=False, qstep=0.4))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3


def test_rgb_rct_lossless_luma():
    img = _page_img()
    rgb = np.stack([img, 255 - img, np.roll(img, 7, 1)], axis=2)
    out = decode_jp2(encode_j2k(rgb, levels=2, reversible=True))
    ref = np.clip(np.rint(0.299 * rgb[:, :, 0].astype(float)
                          + 0.587 * rgb[:, :, 1]
                          + 0.114 * rgb[:, :, 2]), 0, 255).astype(np.uint8)
    assert np.array_equal(out, ref)


def test_rgb_ict_lossy_close():
    img = _page_img()
    rgb = np.stack([img, 255 - img, np.roll(img, 7, 1)], axis=2)
    out = decode_jp2(encode_j2k(rgb, levels=2, reversible=False, qstep=0.5))
    ref = (0.299 * rgb[:, :, 0].astype(float) + 0.587 * rgb[:, :, 1]
           + 0.114 * rgb[:, :, 2])
    assert np.abs(out.astype(float) - ref).max() <= 4


def test_jp2_container_roundtrip():
    img = _page_img()
    data = encode_jp2(img, levels=3)
    assert data[:12] == _JP2_SIG
    assert np.array_equal(decode_jp2(data), img)


@pytest.mark.parametrize("tile", [(40, 32), (33, 29), (93, 75)])
def test_multi_tile_roundtrip(tile):
    img = _page_img()
    assert np.array_equal(decode_jp2(encode_j2k(img, levels=3, tile=tile)),
                          img)


@pytest.mark.parametrize("prog", [0, 1, 2, 3, 4])
def test_all_progression_orders(prog):
    img = _page_img(shape=(40, 50))
    assert np.array_equal(decode_jp2(encode_j2k(img, levels=2, prog=prog)),
                          img)


def test_sop_eph_segsym_markers():
    img = _page_img(shape=(40, 50))
    cs = encode_j2k(img, levels=2, sop=True, eph=True, segsym=True)
    assert b"\xff\x91" in cs and b"\xff\x92" in cs
    assert np.array_equal(decode_jp2(cs), img)


def test_termall_codestream():
    img = _page_img(shape=(40, 50))
    cs = encode_j2k(img, levels=2, termall=True)
    assert np.array_equal(decode_jp2(cs), img)


@pytest.mark.parametrize("levels,xcb,ycb", [(0, 4, 4), (5, 6, 6), (2, 3, 5)])
def test_levels_and_blocksizes(levels, xcb, ycb):
    img = _page_img(shape=(40, 50))
    cs = encode_j2k(img, levels=levels, xcb=xcb, ycb=ycb)
    assert np.array_equal(decode_jp2(cs), img)


def test_tiny_images():
    for shape in [(1, 1), (1, 7), (5, 1), (3, 3)]:
        img = _page_img(shape=shape)
        assert np.array_equal(decode_jp2(encode_j2k(img, levels=2)), img)


# ---------------------------------------------------------------------------
# Named out-of-scope errors + guards
# ---------------------------------------------------------------------------

def _patch(cs: bytes, marker: bytes, off: int, val: int) -> bytes:
    i = cs.index(marker)
    b = bytearray(cs)
    b[i + off] = val
    return bytes(b)


def test_named_error_precincts():
    cs = encode_j2k(_page_img(shape=(20, 20)), levels=1)
    bad = _patch(cs, b"\xff\x52", 4, 0x01)  # Scod bit 0
    with pytest.raises(ValueError, match="precinct"):
        decode_jp2(bad)


@pytest.mark.parametrize("kw", [
    dict(bypass=True),
    dict(reset=True),
    dict(causal=True),
    dict(bypass=True, reset=True, causal=True),
    dict(bypass=True, termall=True),
    dict(causal=True, termall=True),
    dict(bypass=True, reset=True, causal=True, termall=True, segsym=True),
])
def test_codeblock_style_roundtrips(kw):
    # the "coder parallelism" style set (D.4): selective arithmetic
    # bypass (raw SPP/MRP segments from the 5th SPP on), per-pass
    # context reset, vertically-causal contexts — alone and combined
    img = _page_img(shape=(37, 53))
    got = decode_jp2(encode_j2k(img, levels=2, **kw))
    assert (got == img).all()


@pytest.mark.parametrize("layers", [2, 3])
def test_bypass_with_quality_layers(layers):
    # whole codeword segments distribute across layers; portions of one
    # segment concatenate across packets on the decode side
    img = _page_img(shape=(40, 40))
    got = decode_jp2(encode_j2k(img, levels=1, bypass=True, layers=layers))
    assert (got == img).all()


def test_bypass_raw_bitstuffing_roundtrip():
    # data crafted to drive raw segments through the FF-stuffing path:
    # all-ones magnitudes make raw refinement bits mostly 1s
    from sparkstract.fixtures.encoders.jp2 import t1_encode
    from sparkstract.functions.jp2 import t1_decode

    coeffs = np.full((24, 24), 0x7FF, np.int32)
    coeffs[::3, ::2] = -0x7FF
    segs, npasses, zp = t1_encode(coeffs, "LL", 12, bypass=True)
    assert any(b"\xff" in sg for sg in segs)
    got = t1_decode(segs, npasses, 24, 24, "LL", zp, 12, bypass=True)
    assert (got == coeffs).all()


def test_predictable_termination_bit_accepted():
    # 0x10 constrains the encoder's termination procedure only; a
    # stream flagged with it must still decode
    img = _page_img(shape=(20, 20))
    cs = encode_j2k(img, levels=1)
    flagged = _patch(cs, b"\xff\x52", 12, 0x10)
    assert (decode_jp2(flagged) == img).all()


def test_named_error_subsampling():
    cs = encode_j2k(_page_img(shape=(20, 20)), levels=1)
    i = cs.index(b"\xff\x51")
    bad = bytearray(cs)
    bad[i + 4 + 36 + 1] = 2  # XRsiz of component 0
    with pytest.raises(ValueError, match="subsampling"):
        decode_jp2(bytes(bad))


def test_named_error_roi_and_ppm():
    cs = encode_j2k(_page_img(shape=(20, 20)), levels=1)
    i = cs.index(b"\xff\x5c")  # before QCD
    for marker, what in ((b"\xff\x5e\x00\x04\x00\x00", "ROI"),
                         (b"\xff\x60\x00\x03\x00", "PPM")):
        bad = cs[:i] + marker + cs[i:]
        with pytest.raises(ValueError, match=what):
            decode_jp2(bad)


def test_decode_bomb_guard():
    cs = encode_j2k(_page_img(shape=(20, 20)), levels=1)
    i = cs.index(b"\xff\x51")
    bad = bytearray(cs)
    struct.pack_into(">II", bad, i + 6, 1 << 20, 1 << 20)  # Xsiz, Ysiz
    with pytest.raises(ValueError, match="too large"):
        decode_jp2(bytes(bad))


def test_not_a_jp2():
    with pytest.raises(ValueError, match="JPEG 2000"):
        decode_jp2(b"\x89PNG\r\n\x1a\nnot really")


def test_truncated_packet_body():
    cs = encode_j2k(_page_img(shape=(30, 30)), levels=1)
    with pytest.raises(ValueError):
        decode_jp2(cs[: len(cs) // 2])


# ---------------------------------------------------------------------------
# Integration seams: PDF /JPXDecode and the raster sniff
# ---------------------------------------------------------------------------

def test_pdf_jpx_image_roundtrip_exact():
    from sparkstract.fixtures.encoders.pdf import encode_simple_pdf
    from sparkstract.functions.pdf import parse_pdf

    img = _page_img(shape=(40, 64))
    data = encode_simple_pdf([[("jpx_image", img, 0, 0)]],
                             page_size=(64, 40))
    (page,) = parse_pdf(data)
    got = next(it for it in page.items if it[0] == "image")[1]
    assert np.array_equal(got, img)


def test_codecs_sniff_jp2_and_raw_codestream():
    from sparkstract.functions.codecs import decode_pages

    img = _page_img(shape=(33, 47))
    (out,) = decode_pages(encode_jp2(img, levels=2))
    assert np.array_equal(out, img)
    (out,) = decode_pages(encode_j2k(img, levels=2))
    assert np.array_equal(out, img)


def test_fixture_families_registered():
    from sparkstract.fixtures import gen

    assert "pdf_jpx_page" in gen.PAGE_FAMILIES
    assert "jp2_page" in gen.PAGE_FAMILIES
    b = gen._Builder(123)
    ref, blocks = b.add_page("jp2_page")
    assert b.media[-1]["image"][:12] == _JP2_SIG
    ref, blocks = b.add_page("pdf_jpx_page")
    assert b.media[-1]["image"][:5] == b"%PDF-"
    assert b"/JPXDecode" in bytes(b.media[-1]["image"])


# ---------------------------------------------------------------------------
# Quality layers (B.8): passes distributed across layers, one packet per
# (layer, res, comp); later-layer packets use the bit-inclusion path and
# per-layer pass counts/lengths.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("layers,prog", [(2, 0), (3, 1), (5, 0)])
def test_multi_layer_lossless(layers, prog):
    img = _page_img(shape=(50, 60))
    cs = encode_j2k(img, levels=2, layers=layers, prog=prog)
    assert np.array_equal(decode_jp2(cs), img)


def test_multi_layer_with_termall_and_segsym():
    img = _page_img(shape=(40, 50))
    cs = encode_j2k(img, levels=2, layers=3, termall=True, segsym=True)
    assert np.array_equal(decode_jp2(cs), img)


def test_multi_layer_lossy_and_rgb():
    img = _page_img(shape=(40, 50))
    cs = encode_j2k(img, levels=2, layers=4, reversible=False, qstep=0.4)
    assert np.abs(decode_jp2(cs).astype(int) - img.astype(int)).max() <= 3
    rgb = np.stack([img, 255 - img, np.roll(img, 7, 1)], axis=2)
    cs = encode_j2k(rgb, levels=2, layers=2)
    ref = np.clip(np.rint(0.299 * rgb[:, :, 0].astype(float)
                          + 0.587 * rgb[:, :, 1]
                          + 0.114 * rgb[:, :, 2]), 0, 255).astype(np.uint8)
    assert np.array_equal(decode_jp2(cs), ref)


def test_layer_count_signalled_in_cod():
    img = _page_img(shape=(30, 30))
    cs = encode_j2k(img, levels=1, layers=7)
    i = cs.index(b"\xff\x52")
    assert struct.unpack(">H", cs[i + 6:i + 8])[0] == 7


# ---------------------------------------------------------------------------
# COC / QCC per-component overrides and multi-tile-part streams: decoder
# paths real files use that the fixture encoder never emits — exercised
# by byte surgery on encoder output.
# ---------------------------------------------------------------------------

def test_coc_override_restores_coding_params():
    img = _page_img(shape=(40, 50))
    cs = bytearray(encode_j2k(img, levels=2, xcb=6, ycb=6))
    i = cs.index(b"\xff\x52")
    cs[i + 10] = 2  # corrupt COD xcb-2: claim 16-wide blocks (wrong)
    # without an override the packets no longer parse to the image
    try:
        wrong = decode_jp2(bytes(cs))
        assert not np.array_equal(wrong, img)
    except (ValueError, IndexError):
        pass
    # COC for component 0 restoring the real SPcod wins over COD (A.6.2)
    qcd_at = bytes(cs).index(b"\xff\x5c")
    coc = struct.pack(">HHBB", 0xFF53, 9, 0, 0) + bytes([2, 4, 4, 0, 1])
    fixed = bytes(cs[:qcd_at]) + coc + bytes(cs[qcd_at:])
    assert np.array_equal(decode_jp2(fixed), img)


def test_qcc_override_restores_quant_params():
    img = _page_img(shape=(40, 50))
    cs = bytearray(encode_j2k(img, levels=1, xcb=6, ycb=6))
    i = cs.index(b"\xff\x5c")
    (ln,) = struct.unpack(">H", cs[i + 2:i + 4])
    qcd_body = bytes(cs[i + 4:i + 2 + ln])
    cs[i + 5] = (cs[i + 5] & 0x07) | (1 << 3)  # wreck band-0 exponent
    try:
        wrong = decode_jp2(bytes(cs))
        assert not np.array_equal(wrong, img)
    except (ValueError, IndexError):
        pass
    sot = bytes(cs).index(b"\xff\x90")
    qcc = struct.pack(">HHB", 0xFF5D, 3 + len(qcd_body), 0) + qcd_body
    fixed = bytes(cs[:sot]) + qcc + bytes(cs[sot:])
    assert np.array_equal(decode_jp2(fixed), img)


def test_multiple_tile_parts_concatenate():
    img = _page_img(shape=(40, 50))
    cs = encode_j2k(img, levels=2)
    i = cs.index(b"\xff\x90")
    (psot,) = struct.unpack(">I", cs[i + 6:i + 10])
    body = cs[i + 14:i + psot]       # after SOT(12) + SOD(2)
    assert cs[i + psot:i + psot + 2] == b"\xff\xd9"
    k = len(body) // 2
    part = lambda seg, tp: (struct.pack(">HHHIBB", 0xFF90, 10, 0,
                                        12 + 2 + len(seg), tp, 2)
                            + b"\xff\x93" + seg)
    rebuilt = cs[:i] + part(body[:k], 0) + part(body[k:], 1) + b"\xff\xd9"
    assert np.array_equal(decode_jp2(rebuilt), img)


# ---------------------------------------------------------------------------
# User-defined precincts (B.6/B.7/B.9)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("prec", [(6, 6), (7, 6), [(5, 5), (6, 6), (7, 7)]])
@pytest.mark.parametrize("prog", [0, 1, 2])
def test_precinct_roundtrips(prec, prog):
    # precincts smaller than the bands force multiple packets per
    # (layer, res, comp), per-precinct tag trees, and the B.7 code-block
    # clamp (cb size capped to the band-level precinct)
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (150, 200)).astype(np.uint8)
    for layers in (1, 2):
        cs = encode_j2k(img, levels=2, prog=prog, layers=layers,
                        precincts=prec)
        assert (decode_jp2(cs) == img).all()


def test_precincts_with_parallel_modes_and_tiles():
    # the archival-scan stack: Cprecincts + Cmodes + tiling + SOP/EPH
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (150, 200)).astype(np.uint8)
    cs = encode_j2k(img, levels=2, precincts=(6, 6), bypass=True,
                    causal=True, tile=(96, 96), sop=True, eph=True,
                    layers=2)
    assert (decode_jp2(cs) == img).all()


def test_precinct_positional_progression_named_error():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (100, 130)).astype(np.uint8)
    cs = encode_j2k(img, levels=1, precincts=(6, 6))
    i = cs.index(b"\xff\x52")
    bad = bytearray(cs)
    bad[i + 5] = 4                       # SGcod progression -> CPRL
    with pytest.raises(ValueError, match="positional progression"):
        decode_jp2(bytes(bad))


def test_precinct_sizes_truncated_named_error():
    rng = np.random.default_rng(8)
    img = rng.integers(0, 256, (40, 40)).astype(np.uint8)
    cs = encode_j2k(img, levels=2, precincts=(6, 6))
    i = cs.index(b"\xff\x52")
    ln = struct.unpack(">H", cs[i + 2:i + 4])[0]
    bad = cs[:i + 2] + struct.pack(">H", ln - 2) + cs[i + 4:i + ln] \
        + cs[i + 2 + ln:]
    with pytest.raises(ValueError, match="precinct sizes truncated"):
        decode_jp2(bad)
