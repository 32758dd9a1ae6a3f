"""functions/aes.py + pdfcrypt AES handler — FIPS 197 known answers,
CBC properties, the R6 KDF, and the encrypted-PDF read path.

`AES` is the OpenSSL seam the pipeline runs; `OracleAES` is the
from-scratch FIPS 197 implementation in tests/aes_oracle.py. Both answer
the known-answer vectors, and they must agree on every key, length and
padding mode."""

import hashlib

import numpy as np
import pytest
from aes_oracle import _SBOX
from aes_oracle import AES as OracleAES

from sparkstract.functions import aes as aes_mod
from sparkstract.functions.aes import AES
from sparkstract.fixtures.encoders.pdfcrypt import (
    make_encryption_aes128,
    make_encryption_aes256,
)
from sparkstract.functions.pdfcrypt import (
    aes_decrypt_data,
    hash_2b,
    object_key,
    reader_key,
)

# ------------------------------------------------------- FIPS 197 vectors


def test_fips197_appendix_c_aes128():
    a = AES(bytes(range(16)))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = a.encrypt_block(pt)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert a.decrypt_block(ct) == pt


def test_fips197_appendix_c_aes256():
    a = AES(bytes(range(32)))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = a.encrypt_block(pt)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
    assert a.decrypt_block(ct) == pt


def test_sbox_generated_matches_known_anchors():
    # §5.1.1 published table anchors: S(0)=0x63, S(1)=0x7c, S(0x53)=0xed
    assert _SBOX[0x00] == 0x63
    assert _SBOX[0x01] == 0x7C
    assert _SBOX[0x53] == 0xED
    assert sorted(_SBOX) == list(range(256))  # a permutation


def test_bad_key_length_rejected():
    with pytest.raises(ValueError, match="16 or 32"):
        AES(b"short")


# ----------------------------------------------------------------- CBC


def test_cbc_roundtrip_various_lengths():
    a = AES(hashlib.sha256(b"k").digest()[:16])
    iv = hashlib.md5(b"iv").digest()
    rng = np.random.default_rng(5)
    for n in (0, 1, 15, 16, 17, 100, 4096):
        data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        assert a.decrypt_cbc(iv, a.encrypt_cbc(iv, data)) == data


def test_cbc_bad_padding_raises():
    a = AES(bytes(16))
    with pytest.raises(ValueError, match="padding"):
        a.decrypt_cbc(bytes(16), bytes(16))  # decrypts to garbage pad


def test_cbc_unaligned_rejected():
    a = AES(bytes(16))
    with pytest.raises(ValueError, match="16-aligned"):
        a.decrypt_cbc(bytes(16), b"x" * 15)
    with pytest.raises(ValueError, match="16-aligned"):
        a.encrypt_cbc(bytes(16), b"x" * 15, pad=False)


def test_vectorized_decrypt_matches_scalar_encrypt_inverse():
    # many blocks at once through the oracle's numpy path == block-by-block
    # inverse of its scalar T-table encryptor
    a = OracleAES(hashlib.sha256(b"vec").digest())
    rng = np.random.default_rng(7)
    pts = [bytes(rng.integers(0, 256, 16, dtype=np.uint8))
           for _ in range(64)]
    cts = b"".join(a.encrypt_block(p) for p in pts)
    got = a._decrypt_blocks(
        np.frombuffer(cts, dtype=np.uint8).reshape(-1, 16))
    assert got.tobytes() == b"".join(pts)


# ---------------------------------------------------- seam vs the oracle


@pytest.mark.parametrize("klen", [16, 32])
def test_oracle_fips197_appendix_c(klen):
    a = OracleAES(bytes(range(klen)))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    want = {16: "69c4e0d86a7b0430d8cdb78070b4c55a",
            32: "8ea2b7ca516745bfeafc49904b496089"}[klen]
    assert a.encrypt_block(pt).hex() == want
    assert a.decrypt_block(bytes.fromhex(want)) == pt


def test_seam_matches_oracle_random_keys_and_lengths():
    rng = np.random.default_rng(11)
    lengths = sorted({0, 1, 15, 16, 17, 31, 32, 33, 255, 256, 4095, 4096}
                     | set(int(n) for n in rng.integers(0, 4097, 24)))
    for i, n in enumerate(lengths):
        key = bytes(rng.integers(0, 256, 16 if i % 2 else 32,
                                 dtype=np.uint8))
        iv = bytes(rng.integers(0, 256, 16, dtype=np.uint8))
        data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        seam, oracle = AES(key), OracleAES(key)
        # padded: PKCS#7 on both sides, any length
        ct = seam.encrypt_cbc(iv, data)
        assert ct == oracle.encrypt_cbc(iv, data)
        assert seam.decrypt_cbc(iv, ct) == oracle.decrypt_cbc(iv, ct) == data
        # unpadded: 16-aligned only, and both refuse the rest alike
        if n % 16:
            for a in (seam, oracle):
                with pytest.raises(ValueError, match="16-aligned"):
                    a.encrypt_cbc(iv, data, pad=False)
                with pytest.raises(ValueError, match="16-aligned"):
                    a.decrypt_cbc(iv, data, pad=False)
            continue
        ct = seam.encrypt_cbc(iv, data, pad=False)
        assert ct == oracle.encrypt_cbc(iv, data, pad=False)
        assert (seam.decrypt_cbc(iv, data, pad=False)
                == oracle.decrypt_cbc(iv, data, pad=False))
        if n:
            assert seam.encrypt_block(data[:16]) \
                == oracle.encrypt_block(data[:16])
            assert seam.decrypt_block(data[:16]) \
                == oracle.decrypt_block(data[:16])


def test_seam_and_oracle_reject_the_same_padding():
    rng = np.random.default_rng(12)
    for _ in range(64):
        key = bytes(rng.integers(0, 256, 16, dtype=np.uint8))
        iv = bytes(16)
        ct = bytes(rng.integers(0, 256, 32, dtype=np.uint8))
        got = []
        for a in (AES(key), OracleAES(key)):
            try:
                got.append(a.decrypt_cbc(iv, ct))
            except ValueError as e:
                got.append(str(e))
        assert got[0] == got[1]


def test_seam_rejects_24_byte_keys_like_the_oracle():
    for cls in (AES, OracleAES):
        with pytest.raises(ValueError, match="16 or 32"):
            cls(bytes(24))


@pytest.mark.parametrize("pw,salt,udata", [
    (b"", b"saltsalt", b""),
    (b"pw", b"saltsalt", b""),
    (b"", b"vsaltvsa", bytes(range(48))),
])
def test_hash_2b_same_on_both_backends(monkeypatch, pw, salt, udata):
    seam = hash_2b(pw, salt, udata)
    monkeypatch.setattr(aes_mod, "AES", OracleAES)
    assert hash_2b(pw, salt, udata) == seam


# ---------------------------------------------------------- R6 KDF (2.B)


def test_hash_2b_deterministic_and_32_bytes():
    h1 = hash_2b(b"", b"saltsalt", b"")
    h2 = hash_2b(b"", b"saltsalt", b"")
    assert h1 == h2 and len(h1) == 32
    assert hash_2b(b"", b"other-sa", b"") != h1
    assert hash_2b(b"pw", b"saltsalt", b"") != h1


# ------------------------------------------------- handler dict round-trips


def _deref(v):
    return v


def _enc_dict(vals, extra_entries):
    d = {"/Filter": "/Standard", "/V": vals["V"], "/R": vals["R"],
         "/Length": vals["Length"], "/P": vals["P"],
         "/O": vals["O"], "/U": vals["U"]}
    d.update(extra_entries)
    return d


def test_aesv2_reader_key_roundtrip():
    id0 = hashlib.md5(b"aesv2-test").digest()
    vals, key = make_encryption_aes128(id0)
    enc = _enc_dict(vals, {
        "/CF": {"/StdCF": {"/CFM": "/AESV2", "/Length": 16}},
        "/StmF": "/StdCF", "/StrF": "/StdCF"})
    got, method = reader_key(enc, id0, _deref)
    assert got == key and method == "aesv2"
    # per-object decrypt roundtrip through the sAlT key
    ok = object_key(key, 7, 0, aes=True)
    iv = hashlib.md5(b"t").digest()
    data = iv + AES(ok).encrypt_cbc(iv, b"secret stream body")
    assert aes_decrypt_data(ok, data) == b"secret stream body"


def test_aesv3_reader_key_roundtrip_r6():
    id0 = hashlib.md5(b"aesv3-test").digest()
    vals, key = make_encryption_aes256(id0)
    enc = _enc_dict(vals, {
        "/CF": {"/StdCF": {"/CFM": "/AESV3", "/Length": 32}},
        "/StmF": "/StdCF", "/StrF": "/StdCF"})
    # writer embeds UE/OE/Perms in the "extra" string; rebuild as values
    import re
    extra = vals["extra"]
    ue = bytes.fromhex(re.search(r"/UE <([0-9a-f]+)>", extra).group(1))
    oe = bytes.fromhex(re.search(r"/OE <([0-9a-f]+)>", extra).group(1))
    pm = bytes.fromhex(re.search(r"/Perms <([0-9a-f]+)>", extra).group(1))
    enc.update({"/UE": ue, "/OE": oe, "/Perms": pm})
    got, method = reader_key(enc, id0, _deref)
    assert got == key and method == "aesv3"


def test_aesv3_wrong_password_named_error():
    id0 = hashlib.md5(b"aesv3-bad").digest()
    vals, _ = make_encryption_aes256(id0)
    u = bytearray(vals["U"])
    u[0] ^= 0xFF  # validation hash no longer matches the empty password
    enc = _enc_dict(dict(vals, U=bytes(u)), {
        "/CF": {"/StdCF": {"/CFM": "/AESV3", "/Length": 32}},
        "/StmF": "/StdCF", "/StrF": "/StdCF", "/UE": bytes(32)})
    with pytest.raises(ValueError, match="password-protected"):
        reader_key(enc, id0, _deref)


def test_split_crypt_filters_named_error():
    id0 = hashlib.md5(b"split").digest()
    vals, _ = make_encryption_aes128(id0)
    enc = _enc_dict(vals, {
        "/CF": {"/StdCF": {"/CFM": "/AESV2"}},
        "/StmF": "/StdCF", "/StrF": "/Identity"})
    with pytest.raises(ValueError, match="split crypt filters"):
        reader_key(enc, id0, _deref)


def test_unknown_cfm_named_error():
    id0 = hashlib.md5(b"cfm").digest()
    vals, _ = make_encryption_aes128(id0)
    enc = _enc_dict(vals, {
        "/CF": {"/StdCF": {"/CFM": "/FUTURE"}},
        "/StmF": "/StdCF", "/StrF": "/StdCF"})
    with pytest.raises(ValueError, match="CFM"):
        reader_key(enc, id0, _deref)


# -------------------------------------------------- whole-PDF round-trips


@pytest.mark.parametrize("mode", ["aes128", "aes256"])
def test_encrypted_pdf_roundtrip(mode):
    from sparkstract.fixtures.encoders.pdf import encode_simple_pdf
    from sparkstract.functions.pdf import parse_pdf

    lines = ["Aes Encrypted Page", "Second Line Here"]
    pdf = encode_simple_pdf(
        [[("text", 72, 700 - 16 * i, 12, ln)
          for i, ln in enumerate(lines)]], encrypt=mode)
    # the plaintext must not appear in the file
    assert b"Aes Encrypted Page" not in pdf
    page = parse_pdf(pdf)[0]
    texts = [it[4] for it in page.items if it[0] == "text"]
    assert texts == lines


def test_aes_image_pdf_roundtrip():
    from sparkstract.fixtures.encoders.pdf import encode_simple_pdf
    from sparkstract.functions.pdf import parse_pdf

    img = (np.outer(np.arange(40), np.arange(60)) % 251).astype(np.uint8)
    pdf = encode_simple_pdf([[("image", img, 0, 0)]],
                            page_size=(60, 40), encrypt="aes256")
    page = parse_pdf(pdf)[0]
    images = [it for it in page.items if it[0] == "image"]
    assert len(images) == 1
    np.testing.assert_array_equal(images[0][1], img)
