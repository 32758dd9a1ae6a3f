"""Lossy VP8 key-frame codec (functions/vp8.py).

No independent VP8 implementation exists in the container, so the
strategy mirrors test_webp.py's: bit-level primitives are pinned with
hand math, and the full coder is pinned by the mirror encoder whose
in-loop reconstruction must equal the decoder's output EXACTLY (the
stream fully determines the output).  Reference contract: WebP of any
flavour enters through the SetImage sniff (baseapi.cpp:881).
"""

from __future__ import annotations

import numpy as np
import pytest

from sparkstract.functions import vp8 as V
from sparkstract.functions import vp8_tables as T
from sparkstract.functions.codecs import decode_gray_any
from sparkstract.fixtures.encoders.vp8 import (
    _BoolWriter,
    encode_gray_vp8,
    encode_webp_vp8,
    encode_webp_vp8x,
    fdct4x4,
    fwht4x4,
)
from sparkstract.functions.vp8 import _BoolReader, decode_vp8, idct4x4, iwht4x4
from sparkstract.functions.webp import SHAPE_COUNTS, decode_webp


# ------------------------------------------------------------ bool coder


def test_bool_coder_roundtrip_random():
    rng = np.random.default_rng(0)
    for _ in range(100):
        n = int(rng.integers(1, 500))
        probs = rng.integers(1, 256, n)
        bits = rng.integers(0, 2, n)
        w = _BoolWriter()
        for p, b in zip(probs, bits):
            w.write_bool(int(p), int(b))
        r = _BoolReader(w.bytes())
        assert [r.read_bool(int(p)) for p in probs] == list(bits)


def test_bool_decoder_matches_bitwise_renormalisation():
    # the reader renormalises in one shift; the spec loop shifts one bit
    # at a time and pulls a byte after every 8 — same bits, same state,
    # also past the end of the data (zeros)
    rng = np.random.default_rng(3)
    for _ in range(60):
        data = bytes(rng.integers(0, 256, int(rng.integers(0, 40)),
                                  dtype=np.uint8))
        r = _BoolReader(data)
        value = (data[0] << 8 if data else 0) | (data[1] if len(data) > 1
                                                  else 0)
        rg, pos, nbits = 255, 2, 0
        for p in rng.integers(1, 256, 400):
            split = 1 + (((rg - 1) * int(p)) >> 8)
            if value >= split << 8:
                bit, rg, value = 1, rg - split, value - (split << 8)
            else:
                bit, rg = 0, split
            while rg < 128:
                value, rg, nbits = value << 1, rg << 1, nbits + 1
                if nbits == 8:
                    nbits = 0
                    value |= data[pos] if pos < len(data) else 0
                    pos += 1
            assert r.read_bool(int(p)) == bit
            assert (r.value, r.range) == (value, rg)


def test_bool_decoder_first_bit_hand_math():
    # value = 0x8000, range 255, prob 128 -> split = 1 + (254*128>>8) =
    # 128, SPLIT = 0x8000; value >= SPLIT -> bit 1.
    r = _BoolReader(b"\x80\x00")
    assert r.read_bool(128) == 1
    r = _BoolReader(b"\x7f\xff")
    assert r.read_bool(128) == 0


def test_literal_and_signed_roundtrip():
    w = _BoolWriter()
    w.literal(0x5A, 8)
    w.signed_literal(-13, 6)
    w.flagged_signed(0, 4)
    w.flagged_signed(7, 4)
    r = _BoolReader(w.bytes())
    assert r.literal(8) == 0x5A
    assert r.signed_literal(6) == -13
    assert r.flagged_signed(4) == 0
    assert r.flagged_signed(4) == 7


def test_tree_coder_all_tokens():
    probs = [128] * 11
    for leaf in range(12):
        w = _BoolWriter()
        w.tree(T.TOKEN_TREE, probs, leaf)
        assert _BoolReader(w.bytes()).tree(T.TOKEN_TREE, probs) == leaf
    # post-zero start (node 2) cannot produce EOB
    for leaf in range(11):
        w = _BoolWriter()
        w.tree(T.TOKEN_TREE, probs, leaf, 2)
        assert _BoolReader(w.bytes()).tree(T.TOKEN_TREE, probs, 2) == leaf


# ------------------------------------------------------- transforms


def test_idct_dc_only_flat():
    # DC-only block is flat at the classic shortcut value (dc + 4) >> 3
    out = idct4x4(np.array([[8] + [0] * 15], np.int64))[0]
    assert (out == (8 + 4) >> 3).all()
    out = idct4x4(np.array([[-20] + [0] * 15], np.int64))[0]
    assert (out == (-20 + 4) >> 3).all()


def test_fdct_idct_roundtrip_small_residual():
    rng = np.random.default_rng(3)
    res = rng.integers(-255, 256, (64, 4, 4))
    cf = np.round(fdct4x4(res)).astype(np.int64)
    assert np.abs(idct4x4(cf) - res).max() <= 1


def test_fwht_iwht_roundtrip():
    rng = np.random.default_rng(4)
    dcs = rng.integers(-2000, 2000, 16)
    y2 = np.round(fwht4x4(dcs)).astype(np.int64)
    assert np.abs(iwht4x4(y2) - dcs).max() <= 1


# ------------------------------------------------------- predictors


def _plane_with(vals: np.ndarray) -> np.ndarray:
    p = V._padded_plane(*vals.shape)
    p[1:, 1:vals.shape[1] + 1] = vals
    return p


def test_dc_pred_edge_cases():
    vals = np.arange(32 * 32).reshape(32, 32) % 251
    p = _plane_with(vals)
    # top-left MB: neither neighbour -> 128
    assert (V._predict_block(p, 0, 0, 16, T.DC_PRED) == 128).all()
    # interior: average of 16 above + 16 left, rounded
    got = V._predict_block(p, 16, 16, 16, T.DC_PRED)
    above = vals[15, 16:32].sum()
    left = vals[16:32, 15].sum()
    assert got[0, 0] == (int(above + left) + 16) >> 5
    # TM clamps
    tm = V._predict_block(p, 16, 16, 16, T.TM_PRED)
    assert tm.min() >= 0 and tm.max() <= 255


def test_b_pred_hu_hand_math():
    vals = np.zeros((16, 16), np.int64)
    vals[4:8, 3] = [10, 20, 30, 40]     # left column of subblock (4..8, 4)
    p = _plane_with(vals)
    o = V._predict_b(p, 4, 4, T.B_HU, 4, 16)
    assert o[0, 0] == (10 + 20 + 1) >> 1
    assert o[0, 1] == (10 + 2 * 20 + 30 + 2) >> 2
    assert (o[3] == 40).all()


def test_b_pred_ve_uses_above_and_corner():
    vals = np.zeros((16, 16), np.int64)
    vals[3, 3:9] = [7, 50, 60, 70, 80, 90]   # corner + above + above-right
    p = _plane_with(vals)
    o = V._predict_b(p, 4, 4, T.B_VE, 4, 16)
    assert o[0, 0] == (7 + 2 * 50 + 60 + 2) >> 2
    assert (o[0] == o[3]).all()


# --------------------------------------------------- full roundtrips


def _test_img() -> np.ndarray:
    rng = np.random.default_rng(1)
    img = np.full((70, 90), 230, np.uint8)
    img[10:20, 10:60] = 20
    img[30:34, 5:85] = 40
    img[40:65, 30:50] = rng.integers(0, 256, (25, 20))
    return img


@pytest.mark.parametrize("kw", [
    dict(qi=8, filter_level=0, bpred_every=0, allow_skip=False),
    dict(qi=8, filter_level=0, bpred_every=3, allow_skip=False),
    dict(qi=8, filter_level=0, bpred_every=7, allow_skip=True),
    dict(qi=8, filter_level=12, bpred_every=7, allow_skip=True),
    dict(qi=8, filter_level=12, simple_filter=True),
    dict(qi=8, filter_level=8, n_partitions=2),
    dict(qi=8, filter_level=8, n_partitions=4),
    dict(qi=60, filter_level=20),
    dict(qi=8, filter_level=8, sharpness=3),
], ids=["plain", "bpred", "skip", "filter", "simple", "parts2", "parts4",
        "hiquant", "sharp"])
def test_decode_equals_encoder_recon_exactly(kw):
    img = _test_img()
    stream, expected = encode_gray_vp8(img, return_recon=True, **kw)
    got = decode_vp8(stream)
    assert got.shape == img.shape
    assert (got == expected).all()


def test_odd_dimensions_crop():
    img = _test_img()[:63, :81]
    stream, expected = encode_gray_vp8(img, qi=8, return_recon=True)
    got = decode_vp8(stream)
    assert got.shape == (63, 81)
    assert (got == expected).all()


def test_low_quant_is_near_lossless():
    img = _test_img()
    got = decode_vp8(encode_gray_vp8(img, qi=4, filter_level=0))
    flat = np.abs(got[:35].astype(int) - img[:35].astype(int))
    assert flat.max() <= 4  # text/ink areas reconstruct tightly


def test_rgb_output_shape_and_luma():
    img = _test_img()
    stream = encode_gray_vp8(img, qi=8, filter_level=0)
    rgb = decode_vp8(stream, rgb=True)
    assert rgb.shape == img.shape + (3,)
    # chroma texture is mild: channels stay near the luma
    assert np.abs(rgb[:, :, 0].astype(int)
                  - decode_vp8(stream).astype(int)).max() <= 24


# ----------------------------------------------------------- container


def test_webp_vp8_container_and_telemetry():
    img = _test_img()
    SHAPE_COUNTS.clear()
    got = decode_webp(encode_webp_vp8(img, qi=8, filter_level=8))
    assert got.shape == img.shape
    assert SHAPE_COUNTS["vp8-lossy"] == 1


def test_codec_dispatch_reads_lossy_webp():
    img = _test_img()
    got = decode_gray_any(encode_webp_vp8(img, qi=8))
    assert got.shape == img.shape


def test_vp8x_lossy_and_lossless():
    img = _test_img()
    assert decode_gray_any(encode_webp_vp8x(img, qi=8)).shape == img.shape
    assert (decode_gray_any(encode_webp_vp8x(img, lossless=True))
            == img).all()


def test_vp8x_alpha_composites_onto_white():
    img = _test_img()
    alpha = np.full(img.shape, 255, np.uint8)
    alpha[:10, :] = 0
    got = decode_gray_any(encode_webp_vp8x(img, lossless=True, alpha=alpha,
                                           exif=b"Exif\x00\x00II*\x00"))
    assert (got[:10] == 255).all()
    assert (got[10:] == img[10:]).all()


def test_anim_first_frame_is_the_still():
    from sparkstract.fixtures.encoders.vp8 import (
        encode_webp_anim, encode_webp_vp8,
    )

    img = _test_img()
    still = decode_gray_any(encode_webp_vp8(img, qi=8))
    decoy = np.zeros((16, 16), np.uint8)
    got = decode_gray_any(encode_webp_anim([img, decoy], qi=8))
    assert (got == still).all()


def test_anim_offset_frame_on_background():
    from sparkstract.fixtures.encoders.vp8 import (
        encode_webp_anim, encode_webp_vp8,
    )

    img = _test_img()
    still = decode_gray_any(encode_webp_vp8(img, qi=8))
    h, w = img.shape
    got = decode_gray_any(encode_webp_anim(
        [img], offsets=[(10, 6)], canvas=(w + 30, h + 20),
        bg=(0, 0, 0, 255), qi=8))
    assert got.shape == (h + 20, w + 30)
    assert (got[:6, :] == 0).all() and (got[:, :10] == 0).all()
    assert (got[6:6 + h, 10:10 + w] == still).all()


def test_anim_first_frame_alpha_composites_on_background():
    from sparkstract.fixtures.encoders.vp8 import (
        encode_webp_anim, encode_webp_vp8,
    )

    img = _test_img()
    still = decode_gray_any(encode_webp_vp8(img, qi=8))
    alpha = np.full(img.shape, 128, np.uint8)
    got = decode_gray_any(encode_webp_anim([img], alpha=alpha, qi=8))
    want = ((still.astype(np.int64) * 128 + 255 * 127 + 127)
            // 255).astype(np.uint8)
    assert (got == want).all()


def test_anim_frame_outside_canvas_rejected():
    from sparkstract.fixtures.encoders.vp8 import encode_webp_anim

    img = _test_img()
    data = encode_webp_anim([img], offsets=[(10, 10)],
                            canvas=(img.shape[1], img.shape[0]), qi=8)
    with pytest.raises(ValueError, match="outside canvas"):
        decode_gray_any(data)


def test_webp_anim_fixture_family_extracts():
    from sparkstract.fixtures.gen import _Builder
    from sparkstract.functions.codecs import decode_pages
    from sparkstract.operators.page import analyse_page

    b = _Builder(seed=9)
    ref, blocks = b.add_page("webp_anim_page")
    (page,) = decode_pages(b.media[-1]["image"])
    got = [(blk.kind, blk.text) for blk in analyse_page(page)]
    assert got == [(t.kind, t.text) for t in blocks]


def test_vp8x_compressed_alpha_matches_raw():
    """Lossless-compressed + filtered ALPH decodes to the SAME composite
    as the raw plane — for every container-spec filter method."""
    img = _test_img()
    alpha = np.full(img.shape, 255, np.uint8)
    alpha[:4, :] = 0
    alpha[10:14, 3:9] = 128
    ref = decode_gray_any(encode_webp_vp8x(img, alpha=alpha, qi=8))
    for filt in range(4):
        got = decode_gray_any(encode_webp_vp8x(
            img, alpha=alpha, qi=8, alpha_compressed=True,
            alpha_filter=filt))
        assert (got == ref).all(), filt


def test_vp8x_reserved_alpha_compression_named_error():
    img = _test_img()
    alpha = np.full(img.shape, 255, np.uint8)
    data = encode_webp_vp8x(img, lossless=True, alpha=alpha)
    i = data.find(b"ALPH")
    bad = bytearray(data)
    bad[i + 8] |= 0x02   # reserved compression method
    with pytest.raises(ValueError, match="alpha compression"):
        decode_gray_any(bytes(bad))


# -------------------------------------------------------------- guards


def test_inter_frame_named_error():
    stream = bytearray(encode_gray_vp8(_test_img(), qi=8))
    stream[0] |= 1   # frame-type bit -> inter
    with pytest.raises(ValueError, match="inter frame"):
        decode_vp8(bytes(stream))


def test_bad_start_code_rejected():
    stream = bytearray(encode_gray_vp8(_test_img(), qi=8))
    stream[3] = 0x00
    with pytest.raises(ValueError, match="start code"):
        decode_vp8(bytes(stream))


def test_truncated_payload_rejected():
    with pytest.raises(ValueError, match="truncated"):
        decode_vp8(b"\x00\x00\x00")


def test_partition_overrun_rejected():
    stream = bytearray(encode_gray_vp8(_test_img(), qi=8))
    tag = 0 | (1 << 4) | (0x7FFFF << 5)
    stream[0:3] = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    with pytest.raises(ValueError, match="overruns"):
        decode_vp8(bytes(stream))


def test_size_bomb_guard():
    # hand-build a header claiming a huge frame
    head = bytearray(10)
    tag = 0 | (1 << 4) | (100 << 5)
    head[0:3] = bytes((tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF))
    head[3:6] = b"\x9d\x01\x2a"
    head[6:8] = (0x3FFF).to_bytes(2, "little")
    head[8:10] = (0x3FFF).to_bytes(2, "little")
    with pytest.raises(ValueError, match="too large"):
        decode_vp8(bytes(head) + b"\x00" * 200)


# -------------------------------------------------- table-pack seam


def test_pack_tables_are_valid_probabilities():
    for tbl in (T.KF_BMODE_PROB, T.DEFAULT_COEFF_PROBS,
                T.COEFF_UPDATE_PROBS):
        assert tbl.min() >= 1 and tbl.max() <= 255
    assert (np.diff(T.DC_QLOOKUP) >= 0).all()
    assert (np.diff(T.AC_QLOOKUP) >= 0).all()
    assert T.DC_QLOOKUP[0] == 4 and T.DC_QLOOKUP[127] == 157
    assert T.AC_QLOOKUP[0] == 4 and T.AC_QLOOKUP[127] == 284


def test_pack_shapes_match_spec_layout():
    # drop-in contract for the real RFC 6386 pack
    assert T.KF_BMODE_PROB.shape == (10, 10, 9)
    assert T.DEFAULT_COEFF_PROBS.shape == (4, 8, 3, 11)
    assert T.COEFF_UPDATE_PROBS.shape == (4, 8, 3, 11)
    assert len(T.DC_QLOOKUP) == len(T.AC_QLOOKUP) == 128
    assert len(T.TOKEN_TREE) == 22
    assert len(T.BMODE_TREE) == 18
