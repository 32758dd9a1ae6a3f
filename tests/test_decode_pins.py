"""Bit-exactness pins for the decode paths of the lossy WebP, JPEG and
AES-encrypted PDF families.

Each case builds one fixture page (or one encoder stream) and pins the
sha256 of what the decoder returns, so a change to the entropy decoders
(VP8 tokens, JPEG Huffman), the AES seam or the reconstruction after them
must reproduce every decoded value, not only stay close enough for the
recognizer. The hashes were recorded with the pure-Python decoders that
predate the table-driven Huffman path, the int-only VP8 token path and
the OpenSSL AES seam.
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
