"""PDF standard security handler, writer side (fixture only) for
functions/pdfcrypt.py.

Writer side (fixture-only, like encode_gray_tiff): make_encryption builds
the /O, /U, /P entries and the file key for an R3 128-bit empty-password
document so tests and the pdf_encrypted_page family carry genuinely
encrypted bytes the parser must decrypt.
"""

from __future__ import annotations

import hashlib

from ...functions.pdfcrypt import (
    _pad_password, file_key, hash_2b, rc4, user_entry,
)


def owner_entry(owner_pw: bytes, user_pw: bytes, r: int,
                key_len: int) -> bytes:
    """Algorithm 3: the /O value (owner password defaults to user's)."""
    key = hashlib.md5(_pad_password(owner_pw or user_pw)).digest()
    if r >= 3:
        # Algorithm 3 step (c) feeds only the first key_len bytes of each
        # digest back in (mirrors file_key) — hashing the full 16 bytes
        # would produce a wrong /O whenever key_len < 16
        for _ in range(50):
            key = hashlib.md5(key[:key_len]).digest()
    key = key[:key_len]
    enc = rc4(key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            enc = rc4(bytes(b ^ i for b in key), enc)
    return enc


def aes_encrypt_data(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Writer side of aes_decrypt_data (fixture-only)."""
    from ...functions.aes import AES

    return iv + AES(key).encrypt_cbc(iv, data)


def make_encryption(id0: bytes, p: int = -44) -> tuple[dict, bytes]:
    """Writer-side: (/Encrypt dict values, file key) for an R3 128-bit
    empty-password document — the restrict-permissions shape real
    generators emit."""
    key_len = 16
    o = owner_entry(b"", b"", 3, key_len)
    key = file_key(o, p, id0, 3, key_len)
    u = user_entry(key, id0, 3)
    return ({"V": 2, "R": 3, "Length": key_len * 8, "P": p,
             "O": o, "U": u, "method": "rc4", "extra": ""}, key)


def make_encryption_aes128(id0: bytes, p: int = -44) -> tuple[dict, bytes]:
    """Writer-side AESV2 (/V 4, R4): the O/U algorithms are R3's; the
    crypt-filter dict names AESV2 for streams and strings."""
    key_len = 16
    o = owner_entry(b"", b"", 4, key_len)
    key = file_key(o, p, id0, 4, key_len)
    u = user_entry(key, id0, 4)
    extra = (" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
             " /Length 16 >> >> /StmF /StdCF /StrF /StdCF")
    return ({"V": 4, "R": 4, "Length": key_len * 8, "P": p,
             "O": o, "U": u, "method": "aesv2", "extra": extra}, key)


def make_encryption_aes256(id0: bytes, p: int = -44) -> tuple[dict, bytes]:
    """Writer-side AESV3 (/V 5, R6 — ISO 32000-2 §7.6.4): empty user AND
    owner passwords. All "random" material is derived deterministically
    from id0 (fixture reproducibility), which is sound here because the
    salts only need uniqueness, not secrecy, for an empty-password file.
    /U,/UE per algorithm 8; /O,/OE per algorithm 9 (keyed on the 48-byte
    /U); /Perms per algorithm 10."""
    from ...functions.aes import AES

    d = hashlib.sha256(b"sparkstract-aesv3-material" + id0).digest()
    key = hashlib.sha256(b"sparkstract-aesv3-filekey" + id0).digest()
    vs, ks, ovs, oks = d[0:8], d[8:16], d[16:24], d[24:32]
    u = hash_2b(b"", vs, b"") + vs + ks
    ue = AES(hash_2b(b"", ks, b"")).encrypt_cbc(bytes(16), key, pad=False)
    o = hash_2b(b"", ovs, u) + ovs + oks
    oe = AES(hash_2b(b"", oks, u)).encrypt_cbc(bytes(16), key, pad=False)
    perms_pt = ((p & 0xFFFFFFFF).to_bytes(4, "little") + b"\xff" * 4
                + b"T" + b"adb"
                + hashlib.sha256(b"perms-fill" + id0).digest()[:4])
    perms = AES(key).encrypt_cbc(bytes(16), perms_pt, pad=False)
    extra = (f" /OE <{oe.hex()}> /UE <{ue.hex()}>"
             f" /Perms <{perms.hex()}>"
             " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
             " /Length 32 >> >> /StmF /StdCF /StrF /StdCF")
    return ({"V": 5, "R": 6, "Length": 256, "P": p,
             "O": o, "U": u, "method": "aesv3", "extra": extra}, key)
