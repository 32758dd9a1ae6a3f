"""functions/pdfcrypt.py — RC4 standard security handler (ISO 32000 §7.6.3).

RC4 itself is pinned by the classic published test vectors; the handler
algorithms (file key, /O, /U, per-object key) by self-consistency plus
end-to-end decryption of writer-encrypted documents through parse_pdf.
"""

import numpy as np
import pytest

from sparkstract.fixtures.encoders.pdf import encode_simple_pdf
from sparkstract.functions.pdf import parse_pdf
from sparkstract.fixtures.encoders.pdfcrypt import make_encryption, owner_entry
from sparkstract.functions.pdfcrypt import (
    PAD,
    check_user_password,
    file_key,
    object_key,
    rc4,
    user_entry,
)

# ------------------------------------------------------------------- RC4

# the widely published RC4 test vectors (original cypherpunks posting)
_VECTORS = [
    (b"Key", b"Plaintext", bytes.fromhex("BBF316E8D940AF0AD3")),
    (b"Wiki", b"pedia", bytes.fromhex("1021BF0420")),
    (b"Secret", b"Attack at dawn",
     bytes.fromhex("45A01F645FC35B383552544B9BF5")),
]


def test_rc4_published_vectors():
    for key, plain, cipher in _VECTORS:
        assert rc4(key, plain) == cipher
        assert rc4(key, cipher) == plain  # stream cipher: involution


def test_rc4_length_preserving():
    rng = np.random.default_rng(3)
    for n in (0, 1, 7, 256, 4099):
        data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        out = rc4(b"k3y", data)
        assert len(out) == n
        assert rc4(b"k3y", out) == data


# ------------------------------------------------- handler algorithms


def test_pad_is_spec_constant():
    assert len(PAD) == 32
    assert PAD[:4] == bytes([0x28, 0xBF, 0x4E, 0x5E])
    assert PAD[-4:] == bytes([0x64, 0x53, 0x69, 0x7A])


def test_empty_password_round_trip_r3():
    id0 = bytes(range(16))
    enc, key = make_encryption(id0)
    assert len(key) == 16 and enc["R"] == 3 and enc["V"] == 2
    # the reader-side derivation from /O must reproduce the writer's key
    k2 = file_key(enc["O"], enc["P"], id0, 3, 16)
    assert k2 == key
    assert check_user_password(enc["U"], key, id0, 3)
    # a different /ID or P must NOT authenticate
    assert not check_user_password(enc["U"], key, bytes(16), 3)
    k_badp = file_key(enc["O"], -4, id0, 3, 16)
    assert not check_user_password(enc["U"], k_badp, id0, 3)


def test_r2_user_entry_is_rc4_of_pad():
    key = b"\x01\x02\x03\x04\x05"
    assert user_entry(key, b"", 2) == rc4(key, PAD)


def test_owner_entry_depends_on_revision():
    assert owner_entry(b"", b"", 2, 5) != owner_entry(b"", b"", 3, 16)


def test_object_key_caps_at_16_bytes():
    key = bytes(16)
    ok = object_key(key, 7, 0)
    assert len(ok) == 16  # min(16 + 5, 16)
    ok5 = object_key(bytes(5), 7, 0)
    assert len(ok5) == 10  # min(5 + 5, 16)
    assert object_key(key, 7, 0) != object_key(key, 8, 0)


# ------------------------------------------------------------ end-to-end


def _els(lines, y0=700):
    return [("text", 72, y0 - 16 * i, 12, ln) for i, ln in enumerate(lines)]


def test_encrypted_pdf_decrypts_end_to_end():
    lines = ["Hello Encrypted World", "Second Line Here"]
    data = encode_simple_pdf([_els(lines)], encrypt=True)
    assert b"/Encrypt" in data
    assert b"Hello Encrypted World" not in data  # really encrypted
    (page,) = parse_pdf(data)
    texts = [it[4] for it in page.items if it[0] == "text"]
    assert texts == lines


def test_encrypted_multipage_with_image():
    pic = (np.outer(np.arange(20), np.arange(30)) % 251).astype(np.uint8)
    data = encode_simple_pdf(
        [_els(["Page One Text"]) + [("image", pic, 72, 500)],
         _els(["Page Two Text"])], encrypt=True)
    p1, p2 = parse_pdf(data)
    assert [it[0] for it in p1.items] == ["text", "image"]
    img = next(it for it in p1.items if it[0] == "image")[1]
    assert (img == pic).all()  # stream decryption is byte-exact
    assert p2.items[0][4] == "Page Two Text"


def test_wrong_user_password_named_error():
    data = encode_simple_pdf([_els(["Secret Stuff"])], encrypt=True)
    i = data.index(b"/U <")
    flip = b"0" if data[i + 5:i + 6] != b"0" else b"1"
    bad = data[:i + 5] + flip + data[i + 6:]
    with pytest.raises(ValueError, match="password-protected"):
        parse_pdf(bad)


def test_aes_and_unknown_filters_named_errors():
    data = encode_simple_pdf([_els(["AB"])], encrypt=True)
    v4 = data.replace(b"/V 2 /R 3", b"/V 4 /R 4", 1)
    with pytest.raises(ValueError, match="out of scope"):
        parse_pdf(v4)
    alien = data.replace(b"/Filter /Standard", b"/Filter /AlienSec", 1)
    with pytest.raises(ValueError, match="out of scope"):
        parse_pdf(alien)


def test_plain_pdf_unaffected():
    data = encode_simple_pdf([_els(["Plain Text Doc"])])
    assert b"/Encrypt" not in data
    (page,) = parse_pdf(data)
    assert page.items[0][4] == "Plain Text Doc"
