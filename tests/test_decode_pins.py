"""Bit-exactness pins for the decode paths of the lossy WebP, JPEG and
AES-encrypted PDF families, and of the families whose bit I/O lives in
functions/bits.py: LZW TIFF, GIF, G4 TIFF, lossless WebP, Huffman JBIG2,
and one PDF /LZWDecode stream.

Each case builds one fixture page (or one encoder stream) and pins the
sha256 of what the decoder returns, so a change to the entropy decoders
(VP8 tokens, JPEG Huffman), the AES seam or the reconstruction after them
must reproduce every decoded value, not only stay close enough for the
recognizer. The hashes were recorded with the pure-Python decoders that
predate the table-driven Huffman path, the int-only VP8 token path and
the OpenSSL AES seam; those of the bits.py families with the per-codec
LZW codecs, bit writers and canonical-code loops that predate it.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from sparkstract.fixtures.gen import _Builder
from sparkstract.functions.codecs import decode_pages
from sparkstract.functions.pdf import parse_pdf


def _digest_arrays(pages) -> str:
    h = hashlib.sha256()
    for a in pages:
        a = np.ascontiguousarray(a)
        h.update(f"{a.dtype.str}{a.shape}".encode())
        h.update(a.tobytes())
    return h.hexdigest()


def _digest_pdf(pages) -> str:
    """Every parsed item: image arrays by value, the rest by repr."""
    h = hashlib.sha256()
    for pg in pages:
        h.update(repr((pg.width, pg.height, pg.has_text)).encode())
        for it in pg.items:
            if it[0] == "image":
                h.update(repr(it[2:]).encode())
                h.update(_digest_arrays([it[1]]).encode())
            else:
                h.update(repr(it).encode())
    return h.hexdigest()


def _fixture_bytes(family: str) -> bytes:
    b = _Builder(2024)
    b.add_page(family)
    return bytes(b.media[-1]["image"])


FAMILY_PINS = {
    "webp_lossy_page":
        "17d2dae788c0af3cb20bb8249900379ebe504ae5baa840b312e131c60c4b0e81",
    "webp_vp8x_page":
        "a7c53f165371372dee6e136521bf7d52ebc1580b2f828d8f0acf52e72f9f364d",
    "webp_alpha_page":
        "3c8a14462f179b9e4bc0c644812b286d3db0b83f93f88d3758d90f0144798958",
    "webp_anim_page":
        "17d2dae788c0af3cb20bb8249900379ebe504ae5baa840b312e131c60c4b0e81",
    "jpeg_page":
        "38237f890fd5a27e4002710f34ce909010820a36baf1ad4a59fe8edff5e75b31",
    "progressive_jpeg_page":
        "38237f890fd5a27e4002710f34ce909010820a36baf1ad4a59fe8edff5e75b31",
    "cmyk_jpeg_page":
        "38237f890fd5a27e4002710f34ce909010820a36baf1ad4a59fe8edff5e75b31",
    "exif_jpeg_page":
        "cedf99b0c680fa7be38c166c39f3acc45c263dd5c1f672d830fbbd2503064b9f",
    "jpeg_tiff_page":
        "45362337e636a9a157e3af557db8728b0c09b28a906dc58f182de1d98d443518",
    "pdf_aes_page":
        "d0c761b0f74a246402199462d27a95aede1c68b0888a0ab0badd90aa842f205e",
    "pdf_aes256_page":
        "d0c761b0f74a246402199462d27a95aede1c68b0888a0ab0badd90aa842f205e",
    "tiff_page":
        "0daf207562202fec66ad025e9ea93d7c013d2abfd11ef76ae27640390bf5f4e5",
    "gif_page":
        "0daf207562202fec66ad025e9ea93d7c013d2abfd11ef76ae27640390bf5f4e5",
    "g4_tiff_page":
        "0daf207562202fec66ad025e9ea93d7c013d2abfd11ef76ae27640390bf5f4e5",
    "webp_page":
        "0daf207562202fec66ad025e9ea93d7c013d2abfd11ef76ae27640390bf5f4e5",
    "pdf_jbig2_huff_page":
        "e765abf11b7d5fd82cbf492524f7809f565b5f1f60712d36b14c8d58a4ffed85",
}


@pytest.mark.parametrize("family", sorted(FAMILY_PINS))
def test_fixture_family_decode_pinned(family):
    data = _fixture_bytes(family)
    if data[:5] == b"%PDF-":
        got = _digest_pdf(parse_pdf(data))
    else:
        got = _digest_arrays(decode_pages(data))
    assert got == FAMILY_PINS[family]


def _page(seed: int, h: int = 72, w: int = 88) -> np.ndarray:
    """A deterministic gray page: gradient, text-like bars and noise."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = (yy * 2 + xx) % 200 + 30
    img[8:14, 6:70] = 20
    img[30:33, 10:80:3] = 240
    img = img + rng.integers(-12, 13, (h, w))
    return np.clip(img, 0, 255).astype(np.uint8)


def _stream(kind: str) -> bytes:
    from sparkstract.functions.jpeg import (
        encode_gray_jpeg,
        encode_progressive_jpeg,
    )
    from sparkstract.functions.vp8 import encode_webp_vp8x

    img = _page(7)
    if kind == "jpeg_restart_color":
        return encode_gray_jpeg(img, quality=75, restart_interval=3,
                                color=True)
    if kind == "progressive_color":
        return encode_progressive_jpeg(img, quality=60, color=True)
    # four token partitions, B_PRED macroblocks, no skip, RGB output path
    return encode_webp_vp8x(img, alpha=255 - img, qi=30, filter_level=10,
                            n_partitions=4, bpred_every=2, allow_skip=False)


STREAM_PINS = {
    "jpeg_restart_color":
        "d39654c587a49132be3b384a6a92aa1448e215604fe0202219820f4b04c7d167",
    "progressive_color":
        "68cad0ee625f0b38bd8399e3694b156b09261bfd9b66a61bfe172d665027bd3c",
    "vp8x_parts4_alpha":
        "b9888d75ff1a477011c897677df6426a2e28d65be520dab156e973481ee1594a",
}


@pytest.mark.parametrize("kind", sorted(STREAM_PINS))
def test_encoder_stream_decode_pinned(kind):
    assert _digest_arrays(decode_pages(_stream(kind))) == STREAM_PINS[kind]


# A 12x16 page (`_page(11, 12, 16)`) under /Predictor 2, LZW-coded: 185
# nine-bit codes, short of the first width switch, so the bytes mean the
# same under every EarlyChange reading.
_PDF_LZW_STREAM = bytes.fromhex(
    "8005402117d00c040378035f008073ddea0d7b8980c027c01deafb050000c0977841"
    "de060607016fc01031fc017d03002ec0180c0e087c8c1e2107c015e80a0380c00047"
    "6045f2077b06806177fbc808fd7f04df8f2028281203770ae980203bf816fa7f03e0"
    "a027b83dd625a4065d60a053f80aed063d40a1276838400808bc402fc093c812f500"
    "856d0007d0ca5ced0a3adc60b03dcddd647cbdc6af2083c014ff77bedfcfc7d83804"
    "ee0080462fc0283de40f693f01ef304bd20803760a8000dacbbdb2117902dea067a8"
    "380cfb8080")


def test_pdf_lzw_stream_decode_pinned():
    from sparkstract.functions.pdf import _filter_chain

    got = _filter_chain(["/LZWDecode"], _PDF_LZW_STREAM,
                        [{"/Predictor": 2, "/Columns": 16}])
    assert got == _page(11, 12, 16).tobytes()
