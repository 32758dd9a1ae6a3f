"""Bit-exactness pins for the decode paths of the lossy WebP, JPEG and
AES-encrypted PDF families, and of the families whose bit I/O lives in
functions/bits.py: LZW TIFF, GIF, G4 TIFF, lossless WebP, Huffman JBIG2,
and one PDF /LZWDecode stream; plus the palette BMP page and the encoded
bytes every fixture family and encoder stream feeds those decoders.

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
    "bmp_page":
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
    from sparkstract.fixtures.encoders.jpeg import (
        encode_gray_jpeg,
        encode_progressive_jpeg,
    )
    from sparkstract.fixtures.encoders.vp8 import encode_webp_vp8x

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


# sha256 of the ENCODED bytes: every family with its own encoder branch in
# `_Builder.add_page` (the rest are `png.encode_gray` pages) and the three
# encoder streams above. The decode pins hold only while their input holds:
# a mirror encoder that drifts by a byte fails here even when its decoder
# still agrees with it, and the benchmark's page pools would drift with it.
FAMILY_BYTES_PINS = {
    "bmp_page":
        "ffa6d00ae03cdc356d7165b55ecee65c33244b583daec7245468b53a67a96e0e",
    "cmyk_jpeg_page":
        "79b11bb1df5acacda7201c8d5c4d32b8fdddcda57ba6f79e955152a2896cbbeb",
    "exif_jpeg_page":
        "f903b47459624b3edb12bc0dabd42a465ad0cad65a8317ca97a5dc5a2b2608fd",
    "exif_tiff_page":
        "1e7a54f4f4f8792c121a3b41df044142c2cfcd56d618309810558c5c40bf6a4b",
    "g4_tiff_page":
        "235935d21c30d047bcbee146cc8b63828b3ff813547570d8a732d0b169b6c750",
    "gif_page":
        "d67df32dc1037981ba39d4a0d1717abc0a0a278a53a8b69ba820a8011481a83a",
    "ico_page":
        "82ef41d1b3f92133d867b7b90b0960746f6f9dc0c504986951ab07fef814eae1",
    "interlaced_png_page":
        "addba4b0e9db32dcd1ef0b88e4377768139cb211a49fd6ed327aa172a281aa0c",
    "jp2_bypass_page":
        "4c0b43f722872c08187c328e5230fbfc5739d30d8e0e2d4705ed472ff2b63fe8",
    "jp2_page":
        "776390ba3388f990708569e7467ed22025486b7f31b5b53fa26385fcc15f1546",
    "jpeg_page":
        "04aa90cffa2bfb34bd1b2e14d6d5f42b0368f91d82ef9550003f5b96e2d8bb7a",
    "jpeg_tiff_page":
        "db17b9772729cf04a5122b9be9d1e721654024fa827a9c17b4aa9ea5ad011354",
    "pdf_aes256_page":
        "95e6d7f0de7c3efc2c0bbb843b32a528bf4ce29eaf0277b81043c8d7514e7ecf",
    "pdf_aes_page":
        "22b31fe875af26496f0bd8e6ff17a9c12ad2bc6bab7fac27e8144c7c8a565345",
    "pdf_ccitt_page":
        "58f0548a373efa15090912fa3673b555a6fe902db6702c584152b4ad69d07abe",
    "pdf_cid_page":
        "00bd57a1d788d87ead9cb5d24d0f0023dfb58d3d028eba8d24fb1351ea14b23c",
    "pdf_encrypted_page":
        "1c313df54d80a2987107935e766e06c57c14cb5feb410b81b6ba0d6eb597e290",
    "pdf_inline_image_page":
        "e416c630e6f28e07b5879f84674817dad0050bab93e15a9b11b9d8fa0a93f591",
    "pdf_jbig2_arith_page":
        "cb0fa50a29ac044e0c690efb8fb78448aaab1b7b58e51dbb98bf1ff71b42e7fc",
    "pdf_jbig2_halftone_page":
        "76bb1c7855a9a167e6b8585b47d93c3dd1774212eb7f2c560a4323971afd9540",
    "pdf_jbig2_huff_page":
        "cdf8ca58e1ba142579d83c2639780d3ead0b984f8c6ece9c6b91e3ed878a7c30",
    "pdf_jbig2_page":
        "a0cdfac6acb8fd20cdb9762607d0c9f8aaeb83fb5f499f734cc517827113ab40",
    "pdf_jbig2_text_page":
        "6f4fd7f8f18c41cd8e1d9597549228938287a68178e4d20a08e83bf06c61b671",
    "pdf_jpx_page":
        "4f8bdf2ed1f20a96669741e9919aa8121f5f7daefbbe7d0ffa42cc66226f2e8d",
    "pdf_modern_page":
        "b678d4cf471ca28688ef185fc30014bb6ce6719c96b0ddf5a50a791f7887f494",
    "pdf_page":
        "183736fc522308e5a92d8336cacfec26331794613e64aad7b259bec99825d099",
    "pdf_rotated_page":
        "ed09a0cadfd16af983653781b776b3a3ff9f6c1e6e93553cb8c2a96c3f20b2ee",
    "pdf_scanned_page":
        "899ec7f22e353a5dedf9ff38a26d97a0532e5926ebf56ff8c8ff04593970b4e5",
    "pdf_searchable_page":
        "88614902124a2177db7745e3bf6de164ebfc73c7d61660f8d45bf999e33ee6d6",
    "pdf_stencil_page":
        "e9f0f0e86ceebb85a4885ab2739a2ed5809da4d1e151cca91a200254ec9bbadd",
    "pdf_two_column_page":
        "580b10fe8e609d06fa016c375eea79eafc642673e03dba35839e72fa04847feb",
    "pnm_page":
        "4cf079587b1a8ef236dab8a559abd34471b268337819254201101c0fb8977d92",
    "progressive_jpeg_page":
        "a9d74f56ce5d9e8dc5137998f34a57f9f7de4f64fd08057cd80cdf04aa08aaf9",
    "rgb_png_page":
        "fe17a3e59c414a3da8abd67b4104e290dcd62c226572b7dd8494abddc30ea456",
    "tiff_multipage":
        "4e478270eab6f39b8c23567ae1209ccdf258ab711cd74faf32206e89d51e822c",
    "tiff_page":
        "0abc109d36fc8938f64fbca93d0458785f9c9a422fcda5b5252c3ea866992bfc",
    "tiled_tiff_page":
        "998e253e9eb4e1e05832311d043a8d4c0c56520e6ad114c279584fef97c78792",
    "webp_alpha_page":
        "0663acda212144f80389170d107a8951d3386a6e1d0b17bcaf3f8dbacf0b097a",
    "webp_anim_page":
        "db73b84a4ab3216b5d8db002769875438995a028810dedbdb0c87e3d901f65dc",
    "webp_lossy_page":
        "094877812333cf8fd930f15aa0b62f6493b4f6f38c92af7eb910758603ff771b",
    "webp_page":
        "a314f4878919f7703bfd4f810b3940b35c8a1bb48f5ce03446c24aca31f1aa46",
    "webp_vp8x_page":
        "d33b02453d6b8d0a48363d21a9773c855356815cb6b87f4c3746b59329a090bb",
}

STREAM_BYTES_PINS = {
    "jpeg_restart_color":
        "97a5d8b1227d8854169049faea94c0adc27e4b06c8d6b8a1fc6ca3c87df26b72",
    "progressive_color":
        "d185f9195174ef64e7a5dcdcafd074c6ce7695770be5cbdd3df87dd85cabd030",
    "vp8x_parts4_alpha":
        "222d785b65e4741c2703335aa4fffa0878f785eddcafee8c2f093fc099e9e8c2",
}


@pytest.mark.parametrize("family", sorted(FAMILY_BYTES_PINS))
def test_fixture_family_bytes_pinned(family):
    got = hashlib.sha256(_fixture_bytes(family)).hexdigest()
    assert got == FAMILY_BYTES_PINS[family]


@pytest.mark.parametrize("kind", sorted(STREAM_BYTES_PINS))
def test_encoder_stream_bytes_pinned(kind):
    got = hashlib.sha256(_stream(kind)).hexdigest()
    assert got == STREAM_BYTES_PINS[kind]


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
